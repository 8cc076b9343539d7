package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact order statistics over the corpus — the data-quality report a
  * pipeline publishes per ingest (length distribution per language is
  * the canonical one). Built from HISTOGRAM selection, not an engine
  * quantile function, because the two engines' `percentile`
  * implementations interpolate differently: `PERCENTILE_DISC(p)` is
  * re-derived as "the smallest value whose cumulative count reaches
  * rank ⌈p·n/100⌉", all in integer arithmetic, so Spark and the
  * DuckDB oracle pick the identical value by construction.
  *
  * Scale shape — the whole point of the histogram form: a naive
  * `row_number() OVER (PARTITION BY lang ORDER BY n_chars)` puts an
  * ENTIRE language in one task (a handful of languages over 100 TB =
  * a handful of tasks sorting terabytes each). Instead the corpus
  * reduces to the (lang, n_chars) histogram FIRST — one map-side-
  * combinable count whose output is languages × distinct lengths
  * (thousands of rows, bounded by the value domain, not the corpus) —
  * and the cumulative window + selection run over that tiny frame.
  * Exactness is unchanged: the value at rank t of the sorted group IS
  * the smallest histogram bin with cumulative count ≥ t. At 100 TB
  * the routine monitoring path is still `percentile_approx` (one
  * pass, mergeable sketches); THIS exact form is the audited,
  * oracle-checkable report.
  */
object Stats {

  /** Annotator-agreement audit between two binary raters — the
    * "is the cheap heuristic a usable proxy for the expensive label"
    * question every curation pipeline asks before swapping a human/LLM
    * label for a classifier (fasttext-vs-human is the canonical
    * instance). Inputs are two 0/1 columns; output is one row:
    * confusion counts, observed agreement `po`, chance agreement `pe`
    * (Cohen 1960), Cohen's κ, and McNemar's disagreement-asymmetry
    * statistic — all exact integers.
    *
    * Determinism shape: po/pe in ppm via integral division
    * (cross-products in DECIMAL(38,0) ↔ DuckDB HUGEINT — pe's
    * `a0·b0 + a1·b1` reaches n² ≈ 10²⁴ at corpus scale); κ is
    * SIGN-DECOMPOSED (the x128 convention — Spark's DIV and DuckDB
    * 1.0.0's `//` both truncate toward zero, `-7 // 2` = −3, but a
    * negative numerator never reaches the division, so the result does
    * not rest on either engine's rounding of a negative quotient):
    * `sign(po−pe) · 10⁶·|po−pe| div (10⁶−pe)`.
    * Degenerate chance-perfect raters (pe = 10⁶, both constant) emit
    * κ = 0 under an explicit guard. McNemar is `10³·(n01−n10)²
    * div (n01+n10)` — squared, so no sign ever divides; zero
    * discordance emits 0 under the same guard style.
    *
    * Scale shape: ONE map-side-combinable aggregate over the rater
    * projection — four conditional counts — then per-row arithmetic
    * on the single-row frame. Nothing shuffles but four longs. */
  def raterAgreement(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val counts = df
      .select(raterA.cast("int").as("ra"), raterB.cast("int").as("rb"))
      .filter(col("ra").isNotNull && col("rb").isNotNull)
      .agg(
        count(lit(1)).as("n"),
        count(when(col("ra") === 0 && col("rb") === 0, 1)).as("n00"),
        count(when(col("ra") === 0 && col("rb") === 1, 1)).as("n01"),
        count(when(col("ra") === 1 && col("rb") === 0, 1)).as("n10"),
        count(when(col("ra") === 1 && col("rb") === 1, 1)).as("n11"))
    counts
      // empty-input guard (n = 0 → 0, the contractCheck convention):
      // an empty rater frame must not divide by zero — NULL in
      // default mode, a throw under ANSI
      .withColumn("po_ppm", expr(
        "CASE WHEN n = 0 THEN 0 ELSE 1000000 * (n00 + n11) DIV n END"))
      // DIV (integral, truncating — matches DuckDB // on the always-
      // non-negative operands), never decimal `/` + cast (that ROUNDS)
      .withColumn("pe_ppm", expr(
        "CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "CAST(CAST(1000000 AS DECIMAL(38,0)) * " +
          "(CAST(n00 + n01 AS DECIMAL(38,0)) * (n00 + n10) + " +
          " CAST(n10 + n11 AS DECIMAL(38,0)) * (n01 + n11)) " +
          "DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) END"))
      .withColumn("kappa_ppm",
        when(col("pe_ppm") >= 1000000L, lit(0L)).otherwise(
          when(col("po_ppm") >= col("pe_ppm"),
            expr("1000000 * (po_ppm - pe_ppm) DIV (1000000 - pe_ppm)"))
            .otherwise(-expr("1000000 * (pe_ppm - po_ppm) DIV (1000000 - pe_ppm)"))))
      .withColumn("mcnemar_x1000",
        when(col("n01") + col("n10") === 0, lit(0L)).otherwise(expr(
          "CAST(1000 * CAST(n01 - n10 AS DECIMAL(38,0)) * (n01 - n10) " +
            "DIV (n01 + n10) AS BIGINT)")))
      .select(col("n"), col("n00"), col("n01"), col("n10"), col("n11"),
        col("po_ppm"), col("pe_ppm"), col("kappa_ppm"), col("mcnemar_x1000"))
  }

  /** Semi-structured property extraction + profile: parse the JSON
    * `props` payload column (schema `{"k": int}`), PERMISSIVE — a
    * malformed document yields a NULL value, never a failed job — and
    * aggregate per event_type: total rows, parse successes, and the
    * integer min/max/sum of the extracted key. The parse-success
    * column doubles as the ingest-quality monitor for a feed whose
    * payloads drift.
    *
    * Scale shape: `from_json` runs inside the projection on the scan
    * (per-row, no shuffle); the profile is one map-side-combinable
    * groupBy on event_type. At 100 TB the JSON parse dominates —
    * which is exactly where it should sit: fused into the first scan,
    * paid once, never re-parsed downstream. */
  def propsProfile(events: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.IntegerType)))
    events
      .select(col("event_type"),
        from_json(col("props"), schema).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_parsed"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  /** Nearest rank ⌈p·n/100⌉ of percentile `p` among `n` ordered
    * items, in integer arithmetic — both arguments are SQL snippets. */
  private[graft] def nearestRank(p: String, n: String): Column =
    expr(s"($p * $n + 99) DIV 100")

  /** Exact PERCENTILE_DISC by histogram carve — the one selection
    * every quantile operator here shares. `hist` holds one row per
    * (`keys`…, `value`) bin with its `weight` (a row count, or any
    * non-negative mass); the value at p is the smallest bin whose
    * cumulative weight reaches [[nearestRank]] of the group's total,
    * i.e. the bin whose interval (cum − weight, cum] holds the target.
    * A zero-weight bin has an empty interval and is never selected.
    * No keys = one global group; a group with a NULL key drops out
    * (the targets join on the keys by equality). `extra` are further
    * per-group aggregates over `hist`, carried next to `n`.
    *
    * Output: (keys…, value, n, extra…, p), one row per group × p; an
    * empty histogram yields no rows. Scale shape: the cumulative
    * window runs over the histogram's bins, and the per-group targets
    * (groups × |ps| rows) broadcast onto it. */
  private[graft] def percentileDisc(
      hist: DataFrame, keys: Seq[String], value: String, weight: String,
      ps: Seq[Int], extra: Column*): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percentiles $ps must be in [1, 100]")
    val cum = hist.withColumn("cum", sum(col(weight)).over(
      Window.partitionBy(keys.map(col): _*).orderBy(col(value))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = hist.groupBy(keys.map(col): _*)
      .agg(sum(col(weight)).as("n"), extra: _*)
    val targets = totals
      .withColumn("p", explode(typedLit(ps)))
      .withColumn("target_rn", nearestRank("p", "n"))
    val out = (keys :+ value) ++ totals.columns.drop(keys.size) :+ "p"
    cum.join(broadcast(targets), keys)
      .filter(col("cum") >= col("target_rn") &&
        col("cum") - col(weight) < col("target_rn"))
      .select(out.map(col): _*)
  }

  /** Per-language exact character-length percentiles (PERCENTILE_DISC
    * semantics) via histogram selection: for each lang and each p in
    * `ps`, the smallest `n_chars` whose cumulative frequency reaches
    * rank ⌈p·n/100⌉. Output: (lang, p, n_docs, n_chars_at_p), one row
    * per lang × p. */
  def lengthQuantiles(docs: DataFrame, ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    // corpus → histogram: the ONLY stage that touches every row, and
    // it is a map-side-combinable count on (lang, n_chars). NULL text
    // is excluded up front — PERCENTILE_DISC ignores NULLs, and the
    // engines order a NULL bin differently (Spark first, DuckDB last),
    // which would shift every cumulative count. NULL lang is excluded
    // EXPLICITLY too: the carve's key equi-join would otherwise
    // drop that group silently after counting it — an unlabeled group
    // is out of scope for a per-language report, but by contract, not
    // by join accident.
    val hist = docs
      .filter(col("text").isNotNull && col("lang").isNotNull)
      .select(col("lang"), length(col("text")).as("n_chars"))
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    percentileDisc(hist, Seq("lang"), "n_chars", "cnt", ps)
      .select(col("lang"), col("p"), col("n").as("n_docs"),
        col("n_chars").as("n_chars_at_p"))
  }

  /** DAILY VALUE PERCENTILES per event type — THE ops metrics table
    * ("p50/p90 order value by day": latency dashboards, SLO burn
    * charts and pricing drift all read this shape): the x30
    * PERCENTILE_DISC histogram carve partitioned by (type, day), so
    * no (type, day) group ever funnels raw rows through one task —
    * the only full-data stage is the map-side-combinable
    * (type, day, cents) count. Cents via the shared
    * floor(value·100 + 0.5) IEEE idiom; NULL values/timestamps
    * excluded up front (the x30 NULL-ordering rationale).
    *
    * Scale shape: histogram count → per-group cumulative window over
    * DISTINCT cents bins → broadcast rank-target join; output is
    * types × days × percentiles. */
  def dailyValueQuantiles(
      events: DataFrame, ps: Seq[Int] = Seq(50, 90)): DataFrame = {
    val hist = events
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("event_type"), day(EpochUs).as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("day"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    percentileDisc(hist, Seq("event_type", "day"), "cents", "cnt", ps)
      .select(col("event_type"), col("day"), col("p"),
        col("n").as("n_events"), col("cents").as("cents_at_p"))
  }

  /** Cross-source overlap matrix: for every source pair, the count of
    * distinct 3-gram shingles both sources contain (plus each side's
    * distinct-shingle total, the containment denominators) — the
    * curation diagnostic that answers "which sources duplicate each
    * other", one level above the doc-level pair operators: a crawl
    * that mirrors another shows up here even when no individual doc
    * pair crosses a near-dup threshold.
    *
    * Scale shape: the quadratic lives in SOURCES — a config-scale
    * constant — never documents. The only corpus-scale work is the
    * distinct (source, shingle-hash) projection (one shuffle on a
    * narrow pair); the self-join fans out per shingle to at most
    * (sources containing it)² ≤ s² rows, and s is dozens while the
    * corpus is 100 TB. Pairs sharing zero shingles are absent (inner
    * join). Hash-vs-string: Spark joins on xxhash64 of the shingle,
    * the oracle on the shingle string (the x2/x18 cross-proof).
    *
    * Profiled at sf0.1 (r6, 3 reps each, quiet machine): the distinct
    * projection is ~0.6 s of a ~1.0 s steady-state total and the
    * self-join adds ~0.4 s; the 5.7 s single-run bench reading was
    * first-run JIT noise (the median bench erases it). A
    * groupBy(h)+sorted-collect_set pair-expansion variant (one
    * exchange, half the fan-out rows) measured SLOWER
    * (1.24 s steady-state) — ObjectHashAggregate over mostly-unique
    * hashes beats nothing here; the current two-sided hash join over
    * the cached narrow frame stands as the right plan. */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // three consumers (sizes + both self-join sides) — persist so the
    // corpus-scale shingle+distinct pass runs once regardless of plan
    // shape (ReuseExchange is shape-dependent under AQE); the returned
    // matrix is s² rows at most, materialized before release
    val sg = docs.filter(col("text").isNotNull)
      .select(col("source"), explode(Dedup.shingles(col("text"), n)).as("g"))
      .select(col("source"), xxhash64(col("g")).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val shared = sg.select(col("source").as("source_a"), col("h"))
        .join(sg.select(col("source").as("source_b"), col("h")), "h")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(broadcast(sizes.select(
          col("source").as("source_a"), col("n_grams").as("n_grams_a"))), "source_a")
        .join(broadcast(sizes.select(
          col("source").as("source_b"), col("n_grams").as("n_grams_b"))), "source_b")
        .select(col("source_a"), col("source_b"), col("n_shared"),
          col("n_grams_a"), col("n_grams_b"))
        .localCheckpoint(true)
    } finally sg.unpersist(blocking = false)
  }

  /** Per-group standardization (z-score) of an integer signal — the
    * cross-group comparability step curation needs before a GLOBAL cut
    * (a raw length/quality threshold cuts unevenly across languages;
    * x36's budget walk assumes comparable scores): each document's
    * `n_chars` is standardized against its language's mean and
    * population standard deviation.
    *
    * Float-determinism without rank tricks: the group moments are
    * INTEGER sums (sum x, sum x², both exact in a long — at 10¹² docs ×
    * 10⁵ chars², sum x² ≈ 10¹⁷ < 2⁶³), so mean and variance are
    * per-row expression trees over exact integers, written identically
    * in the oracle — bit-exact on any engine, any plan, unlike a
    * avg/stddev aggregate of doubles (order-dependent parallel
    * summation). Zero-variance groups (all-equal values, singleton
    * groups) emit z = 0.0 under an explicit guard (the division throws
    * under ANSI otherwise); NULL-lang rows keep their group (groupBy
    * treats NULL as a key — the x30 lesson: dropping them silently
    * loses documents).
    *
    * Scale shape: one map-side-combinable (lang, count, sum, sumsq)
    * aggregate — group cardinality = languages, so the moment table
    * BROADCASTS; the corpus never shuffles. */
  def zscoreNorm(docs: DataFrame): DataFrame = {
    val x = col("n_chars").cast("long")
    val moments = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n"),
      sum(x).as("s1"),
      // Σx² in DECIMAL(38,0): a long sum overflows around 10⁹ docs of
      // 10⁴-char texts (Σx² ~ 10¹⁷ per 10⁹ such docs) and ANSI mode
      // would kill the job at exactly the scale this operator targets;
      // the oracle's HUGEINT sum has the same headroom, and both sides
      // convert the exact integer to double at the same point
      sum((x * x).cast("decimal(38,0)")).as("s2"))
    val mean = col("s1").cast("double") / col("n")
    val variance = col("s2").cast("double") / col("n") - mean * mean
    docs.select(col("doc_id"), col("lang"), x.as("n_chars"))
      // null-SAFE key: a plain equi-join would silently drop the
      // NULL-lang group the aggregate just computed
      .join(broadcast(moments.withColumnRenamed("lang", "m_lang")),
        col("lang") <=> col("m_lang"))
      .withColumn("z",
        when(variance <= 0.0, lit(0.0))
          .otherwise((col("n_chars").cast("double") - mean) / sqrt(variance)))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("z"))
  }

  /** Epoch-bucket FLOOR division as a SQL snippet. Spark's `DIV`
    * truncates toward zero, so a pre-1970 (negative-epoch) timestamp
    * would land one bucket too high; this spelling floors. DuckDB's
    * `//` truncates as well (DuckDB 1.0.0:
    * `epoch_us(TIMESTAMP '1969-12-31 12:00:00') // 86400000000` is
    * 0, not −1), so the oracles' `//` buckets agree with this one only
    * because the fixture epochs are non-negative. `us` must be a cheap
    * attribute/expr snippet (it is re-evaluated twice). Non-negative
    * bucket POSITIONS (hour-of-day, day-of-week) additionally go
    * through `pmod` at the call site — `%` follows the dividend's
    * sign. Day buckets go through [[day]]; this stays for the week,
    * N-day and hour divisors. */
  private[graft] def epochFloorDiv(us: String, d: Long): String =
    s"(($us) DIV $d - (CASE WHEN ($us) % $d < 0 THEN 1 ELSE 0 END))"

  /** The event timestamp in epoch microseconds, as a SQL snippet. */
  private[graft] val EpochUs = "unix_micros(CAST(ts AS TIMESTAMP))"

  /** The epoch day of an epoch-microsecond SQL snippet — THE day
    * bucket, floored ([[epochFloorDiv]]): 1969-12-31T12:00 is day −1. */
  private[graft] def day(us: String): Column =
    expr(epochFloorDiv(us, 86400000000L))

  /** Events per (event_type, day) over the rows with a timestamp:
    * (event_type, day, n). Callers rename `n`; a caller narrowing the
    * event types filters the result on `event_type`, and the predicate
    * pushes below the count into the scan. */
  private[graft] def dailyCounts(events: DataFrame): DataFrame =
    events.filter(col("ts").isNotNull)
      .select(col("event_type"), day(EpochUs).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))

  /** The dense day grid spanning the global [min, max] of `days`'s
    * `day` column: (day, d0), one row per calendar day, d0 the first.
    * Absence is data — a zero-event day is a row here, not a gap. */
  private[graft] def dayGrid(days: DataFrame): DataFrame =
    days.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"), col("d0"))

  /** Event-rate anomaly flags: per (event_type, day) counts, flagged
    * when the day sits more than `sigmas` population standard
    * deviations from that type's across-days mean — the feed-health
    * monitor that catches a collector outage (count collapse) or a
    * bot storm (count spike) per event family. The σ test runs in
    * EXACT integer arithmetic — `(n·c − S)² > sigmas²·(n·Q − S²)`
    * with S=Σc, Q=Σc² — so the flag is bit-deterministic across
    * engines (no float σ, no rounding at the boundary). Cross
    * products sit in DECIMAL(38,0): day counts at 100 TB reach 10¹²
    * and their squares overflow a long well before ANSI mode would
    * save you; the oracle's HUGEINT math has the same headroom.
    *
    * Scale shape: events collapse map-side to type×day cardinality
    * first (ONE shuffle, bounded by the calendar × type product, not
    * the event count); the per-type moments are a second aggregate
    * over that tiny frame, broadcast back. */
  def dailyAnomaly(events: DataFrame, sigmas: Int = 3): DataFrame = {
    require(sigmas > 0, s"sigmas $sigmas must be positive")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val daily = dailyCounts(events).withColumnRenamed("n", "c")
    val moments = daily.groupBy(col("event_type").as("m_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(dec(col("c")) * col("c")).as("s2"))
    daily
      .join(broadcast(moments), col("event_type") <=> col("m_type"))
      .select(col("event_type"), col("day"), col("c").as("n_events"),
        // (n·c − S)² > sigmas²·(n·Q − S²), everything exact decimal
        ((dec(col("n")) * col("c") - col("s1")) *
            (dec(col("n")) * col("c") - col("s1")) >
          lit(sigmas.toLong * sigmas) *
            (dec(col("n")) * col("s2") - dec(col("s1")) * col("s1")))
          .as("is_anomaly"))
  }

  /** One-pass COLUMN PROFILING — the schema-drift/data-quality report
    * an ingest pipeline publishes per batch: for every column, its
    * null count, exact distinct count, and min/max stringified length.
    * A new-feed column suddenly 40% NULL, a categorical whose
    * cardinality exploded, a text field whose max length collapsed —
    * this is the row that catches them before training does.
    *
    * Shape: the frame is UNPIVOTED (one array-explode per row, C
    * struct entries — C is the column count, a constant) into
    * (col_name, stringified value) rows, then ONE groupBy computes
    * every profile column — a single shuffle keyed by C values, with
    * the distinct count running as the standard two-phase partial
    * aggregate (map-side distinct on (col_name, v) first). Profiling
    * C columns costs one pass over C·n narrow rows, not C separate
    * jobs. Values profile through their CANONICAL string form (cast
    * on both engines); NULLs stay NULL through the cast, count into
    * n_nulls, and are excluded from n_distinct — an all-NULL column
    * reports 0 distinct and 0 min/max length, never a NULL stat. */
  def profileColumns(df: DataFrame): DataFrame = {
    val entries = df.columns.toSeq.map { c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v"))
    }
    df.select(explode(array(entries: _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
      .groupBy(col("col_name"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("v")).as("n_distinct"),
        coalesce(min(length(col("v"))).cast("long"), lit(0L)).as("min_len"),
        coalesce(max(length(col("v"))).cast("long"), lit(0L)).as("max_len"))
  }

  /** Per-source token-distribution DRIFT vs the whole corpus — the
    * domain-shift monitor a multi-source ingest publishes: the scaled
    * L1 distance Σ_t |p̂(t|source) − p̂(t)|, reported in ppm (0 = the
    * corpus distribution, 2,000,000 = disjoint support). A source
    * whose drift jumps between ingests changed domain, language mix,
    * or extraction quality; a source far above its peers is the one
    * to sample first in a curation review.
    *
    * Exact integer arithmetic throughout, so the DuckDB oracle
    * hash-matches: with c_st = token count in source, c_t = corpus
    * count, n_s = source total, N = corpus total,
    *
    *   drift_ppm = 1e6 · Σ_t |c_st·N − c_t·n_s| div (N·n_s)
    *
    * where tokens ABSENT from the source contribute c_t·n_s each,
    * folded in closed form as n_s·(N − Σ_{t in s} c_t) — no outer
    * join materializes the absent (source, token) pairs. Products
    * reach N² (~10²⁶ at 100 TB), so per-term math runs in
    * DECIMAL(38,0) (DuckDB: HUGEINT); the final ppm division returns
    * to BIGINT. A tokenless source reports 0 drift (guarded — ANSI
    * division). Scale shape: one map-side-combinable (source, token)
    * count, token totals BROADCAST (vocabulary-bounded, the keywords
    * contract), then a per-source aggregate over vocabulary-sized
    * rows — the corpus is scanned once. */
  def sourceDrift(docs: DataFrame): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val st = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("c_st"))
      // feeds the token totals, the source totals, AND the scored join
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tok = st.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
      val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
      // N: one scalar collect of the corpus token total (config-scale)
      val nRow = srcTot.agg(sum(col("n_s")).as("n")).head()
      val nTotal = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
      // sources with zero tokens have no distribution to drift — they
      // simply don't appear (on either engine), so nothing divides by 0
      st.join(broadcast(tok), "token")
        .join(broadcast(srcTot.withColumnRenamed("source", "__s")),
          col("source") <=> col("__s")) // null-safe: a NULL source survives
        .groupBy(col("source"))
        .agg(
          sum(col("c_st")).as("n_tokens"),
          sum(abs(dec(col("c_st")) * lit(nTotal) - dec(col("c_t")) * dec(col("n_s"))))
            .as("present_abs"),
          sum(col("c_t")).as("present_ct"),
          max(col("n_s")).as("n_s"))
        .select(col("source"), col("n_tokens"),
          (dec(lit(1000000L)) *
            (col("present_abs") +
              dec(col("n_s")) * (dec(lit(nTotal)) - dec(col("present_ct")))))
            .as("num"),
          (dec(lit(nTotal)) * dec(col("n_s"))).as("den"))
        .select(col("source"), col("n_tokens"),
          expr("num div den").as("drift_ppm"))
        .localCheckpoint(true)
    } finally st.unpersist(blocking = false)
  }

  /** Sketch-based distinct-gram cardinality per source PLUS the corpus
    * total, in ONE pass — the fixed-state alternative to exact
    * `countDistinct` for monitoring at 100 TB: an HLL sketch
    * (DataSketches HLL++, lgK 12 → RSE ≈ 0.8%) is a few KB of
    * map-side-mergeable state per group, where the exact count must
    * shuffle every distinct gram string. `rollup` emits the per-source
    * rows and the grand total from the same aggregate; Spark's partial
    * aggregation merges sketches executor-side, so the driver only ever
    * sees s+1 sketches — the merge path IS the scale property, and the
    * union≡rollup equivalence is pinned in spec, as is the error bound
    * vs the exact counts. Approximate by design → rows-only in the
    * gate (DuckDB's approx_count_distinct is a different sketch). */
  /** Version-over-version corpus diff — the ingest observability row a
    * refreshing corpus publishes every cycle (a re-crawl that silently
    * REPLACED half a source's documents looks identical in row counts;
    * this catches it): full-outer join of the two versions on doc_id
    * comparing content digests, rolled up to (source, status) counts
    * with status ∈ added / removed / changed / same.
    *
    * Scale shape: each side reduces to (doc_id, source, digest) at the
    * scan (the md5 rides the projection — no text ever shuffles), one
    * doc_id-keyed shuffle per side for the full-outer sort-merge, then
    * a map-side-combinable rollup of source×4 cardinality. NULL text
    * digests as '' (deterministic; a vanished text column must read as
    * changed, never re-classify an existing doc as added). */
  def corpusDiff(old: DataFrame, newer: DataFrame): DataFrame = {
    val o = old.select(col("doc_id"), col("source").as("o_source"),
      md5(coalesce(col("text"), lit(""))).as("o_digest"))
    val n = newer.select(col("doc_id"), col("source").as("n_source"),
      md5(coalesce(col("text"), lit(""))).as("n_digest"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(
        coalesce(col("n_source"), col("o_source")).as("source"),
        when(col("o_digest").isNull, lit("added"))
          .when(col("n_digest").isNull, lit("removed"))
          .when(col("o_digest") =!= col("n_digest"), lit("changed"))
          .otherwise(lit("same")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** SCHEMA-DRIFT AUDIT between two snapshots of "the same" table —
    * the structural companion to [[corpusDiff]]'s row-level diff (a
    * refreshed upstream export silently dropping a column, widening a
    * type, or flooding a column with NULLs is the classic pipeline
    * breakage that row counts never catch): per column across BOTH
    * schemas — status ∈ added / removed / kept / type_changed (from
    * the driver-known StructTypes; schemas are metadata, never a
    * data job), the declared type on each side, and the exact NULL
    * rate in ppm on each present side (the data-level face of the
    * drift: a column can keep its type and still go dark).
    *
    * Scale shape: ONE single-pass aggregate per side computes every
    * column's null count map-side (the x51 one-pass-profile idiom —
    * never a per-column scan), unpivoted via a map explode to a
    * columns-sized frame; everything after lives on that tiny frame.
    * Empty sides report NULL rates as NULL (0/0 is unknown, not 0). */
  def schemaDrift(v1: DataFrame, v2: DataFrame): DataFrame = {
    require(v1.schema.nonEmpty && v2.schema.nonEmpty,
      "schemaDrift needs at least one column per side")
    def profile(df: DataFrame, out: String): DataFrame = {
      val cols = df.schema.fieldNames.toSeq
      // backtick-quoted references throughout: an upstream export's
      // column named `user.id` must profile as a top-level column,
      // not parse as a nested-field path (this audit exists for
      // exactly the irregular schemas that would otherwise crash it);
      // embedded backticks double per the quoting grammar — a column
      // literally named "a`b" must not break the parse (ADVICE r13)
      def q(name: String): Column = col("`" + name.replace("`", "``") + "`")
      val aggs = cols.zipWithIndex.map { case (c, i) =>
        sum(isnull(q(c)).cast("long")).as(s"__nulls_$i")
      }
      df.agg(count(lit(1)).as("__n"), aggs: _*)
        .select(col("__n"), explode(map(
          cols.zipWithIndex.flatMap { case (c, i) =>
            Seq(lit(c), col(s"__nulls_$i"))
          }: _*))
          .as(Seq("column", "nulls")))
        .select(col("column"),
          when(col("__n") > 0, expr("1000000 * nulls DIV __n")).as(out))
    }
    val m1 = v1.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    val m2 = v2.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    val session = v1.sparkSession
    import session.implicits._
    val statuses = (m1.keySet ++ m2.keySet).toSeq.sorted.map { c =>
      val st = (m1.get(c), m2.get(c)) match {
        case (Some(a), Some(b)) if a == b => "kept"
        case (Some(_), Some(_)) => "type_changed"
        case (Some(_), None) => "removed"
        case (None, _) => "added"
      }
      (c, st, m1.get(c).orNull, m2.get(c).orNull)
    }.toDF("column", "status", "type_v1", "type_v2")
    statuses
      .join(profile(v1, "null_ppm_v1"), Seq("column"), "left")
      .join(profile(v2, "null_ppm_v2"), Seq("column"), "left")
  }

  /** CLASSIFIER OPERATING POINT — the confusion matrix + derived
    * rates at one decision threshold, the deployment-facing row the
    * rank metrics (x186 AUC, x269 Brier) deliberately are not (a
    * pipeline gate doesn't rank documents, it CUTS at a threshold;
    * tp/fp/fn/tn at that cut is what the curator actually ships):
    * exact counts in one map-side aggregate, precision/recall in ppm,
    * F1 as the single integral division `2·10⁶·tp div (2tp+fp+fn)`
    * (algebraically 2PR/(P+R) without intermediate floors). Empty
    * denominators report 0 under explicit guards (no positives
    * predicted ⇒ precision 0, stated). One row out. */
  def confusionAtThreshold(
      df: DataFrame, scorePpm: String, outcome: String,
      thresholdPpm: Long = 500000L): DataFrame = {
    val pos = col(outcome).cast("boolean")
    val pred = col(scorePpm) >= thresholdPpm
    // coalesce: an all-NULL input (a dark upstream column) leaves the
    // filter empty and a global sum NULL — the counts must read 0,
    // matching the oracle's count(*) FILTER shape
    df.filter(col(scorePpm).isNotNull && col(outcome).isNotNull)
      .agg(
        coalesce(sum((pred && pos).cast("long")), lit(0L)).as("tp"),
        coalesce(sum((pred && !pos).cast("long")), lit(0L)).as("fp"),
        coalesce(sum((!pred && pos).cast("long")), lit(0L)).as("fn"),
        coalesce(sum((!pred && !pos).cast("long")), lit(0L)).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          expr("1000000 * tp DIV (tp + fp)")).otherwise(lit(0L))
          .as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("1000000 * tp DIV (tp + fn)")).otherwise(lit(0L))
          .as("recall_ppm"),
        when(expr("2 * tp + fp + fn") > 0,
          expr("2000000 * tp DIV (2 * tp + fp + fn)")).otherwise(lit(0L))
          .as("f1_ppm"))
  }

  /** CUMULATIVE GAINS TABLE — "score the corpus, work the top deciles
    * first: how much of the target does each prefix capture?" (the
    * targeting/triage view of a quality score; x153's calibration
    * bins ask a different question): rows bin into score DECILES
    * DESCENDING (best first) via the [[calibrationCurve]] histogram
    * carve, then per decile the cumulative positives captured
    * (`capture_ppm = 10⁶·cum_pos div total_pos`) and the prefix lift
    * vs random (`lift_ppm = 10⁶·cum_pos·N div (cum_n·P)` — 10⁶ is
    * "exactly as good as random", one staged integral division with
    * products in DECIMAL(38,0)). A zero-positive corpus reports
    * capture/lift 0 under explicit guards.
    *
    * Scale shape: the [[calibrationCurve]] plan, then cumulative
    * windows over the 10-row decile frame with a one-row broadcast
    * total. */
  def gainsTable(
      df: DataFrame, scorePpm: String, outcome: String, id: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"bucket count $buckets must be positive")
    val scored = df
      .filter(col(scorePpm).isNotNull && col(outcome).isNotNull)
      .select(col(id), col(scorePpm), col(outcome).cast("long").as("__pos"))
    val byBin = globalNtile(scored, scorePpm, descOrder = true, id,
      buckets, "decile")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("__pos")).as("pos"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byBin
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("pos")).over(w))
    val tot = byBin.agg(sum(col("n")).as("tot_n"), sum(col("pos")).as("tot_pos"))
    cum.crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("pos"), col("cum_n"),
        col("cum_pos"),
        when(col("tot_pos") > 0,
          expr("1000000 * cum_pos DIV tot_pos")).otherwise(lit(0L))
          .as("capture_ppm"),
        when(col("tot_pos") > 0,
          expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * cum_pos * tot_n DIV " +
            "(CAST(cum_n AS DECIMAL(38,0)) * tot_pos) AS BIGINT)"))
          .otherwise(lit(0L)).as("lift_ppm"))
  }

  /** MANN-KENDALL TREND STATISTIC per event type — the nonparametric
    * companion to the OLS slope (x222) and Theil-Sen (x251): over the
    * dense zero-filled daily grid, `S = Σ_{i<j} sign(c_j − c_i)` with
    * the exact concordant/discordant/tied pair counts (the inputs to
    * any MK significance table; the statistic is pure integer — no
    * variance approximation, no float, nothing to diverge
    * cross-engine). Pair volume is days² per type — TIME-bounded,
    * never event-bounded (events fold to daily counts map-side
    * first, the x251 shape).
    *
    * The aggregate LEFT-ANCHORS on the distinct event-type frame
    * (ADVICE r13): a single-day grid has no `a.day < b.day` pair at
    * all, and a pair-anchored aggregate would silently emit NOTHING —
    * every type must still report its row (n_days from the grid span,
    * zero pairs), because "no trend observable yet" is a monitoring
    * datum, not an absence. */
  def mannKendall(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events).filter(col("event_type").isNotNull)
      .withColumnRenamed("n", "c")
    val span = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val types = daily.select(col("event_type")).distinct()
    val dense = types
      .crossJoin(dayGrid(daily))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("c"), lit(0L)).as("c"))
    val pairs = dense.as("a")
      .join(dense.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(
        sum(signum(col("b.c") - col("a.c")).cast("long")).as("s_stat"),
        sum((col("b.c") > col("a.c")).cast("long")).as("n_concordant"),
        sum((col("b.c") < col("a.c")).cast("long")).as("n_discordant"),
        sum((col("b.c") === col("a.c")).cast("long")).as("n_tied"))
    // span is one row, types is vocabulary-scale: both broadcast; the
    // pair aggregate (the only data-scale frame) joins back by type
    types.crossJoin(broadcast(span))
      .join(pairs, Seq("event_type"), "left")
      .select(col("event_type"),
        (col("d1") - col("d0") + 1).as("n_days"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        coalesce(col("n_concordant"), lit(0L)).as("n_concordant"),
        coalesce(col("n_discordant"), lit(0L)).as("n_discordant"),
        coalesce(col("n_tied"), lit(0L)).as("n_tied"))
  }

  def sketchDistinct(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.filter(col("text").isNotNull)
      .select(col("source"), explode(Dedup.shingles(col("text"), n)).as("g"))
      .rollup(col("source"))
      // grouping() — not coalesce — labels the rollup total (it must
      // sit in the agg clause): a real NULL-source group must stay
      // distinguishable from the grand total (the x30 NULL-group
      // lesson applied to rollup keys). is_total is its OWN boolean
      // column — a sentinel string in `source` would collide with a
      // genuine source literally named that way.
      .agg(hll_sketch_estimate(hll_sketch_agg(col("g"))).as("n_grams_est"),
        grouping(col("source")).as("gflag"))
      .select(col("source"), col("n_grams_est"),
        (col("gflag") === 1).as("is_total"))
  }

  /** Sketch-based source-overlap matrix — the theta-sketch path of
    * [[sourceOverlap]]: per-source theta sketches support set
    * INTERSECTION (HLL cannot), so pairwise shared-gram estimates come
    * from s² scalar sketch ops over s KB-sized sketches — after ONE
    * corpus scan, where the exact matrix's self-join re-shuffles every
    * (source, gram) pair. Below ~4k distinct grams per source the
    * sketch is in exact mode and the matrix EQUALS [[sourceOverlap]]
    * (pinned in spec); past it, estimates degrade gracefully (RSE
    * ≈ 1/√4096 per side) while state stays fixed — the 100 TB trade.
    * Zero-overlap pairs are emitted with estimate 0 (the sketch path
    * cannot distinguish absent from empty without the exact join).
    * Approximate by design → rows-only in the gate. */
  def sketchOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // both join sides consume the sketch frame — persist the s tiny
    // rows so the corpus-scale shingle scan runs ONCE, not per side;
    // the s² output matrix is materialized before release (the
    // sourceOverlap idiom)
    val sk = docs.filter(col("text").isNotNull)
      .select(col("source"), explode(Dedup.shingles(col("text"), n)).as("g"))
      .groupBy(col("source")).agg(theta_sketch_agg(col("g")).as("sk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // s sketches of a few KB each: the pairwise step is config-scale
    // (s² rows), broadcast regardless of corpus size
    try sk.select(col("source").as("source_a"), col("sk").as("sk_a"))
      .join(broadcast(sk.select(col("source").as("source_b"), col("sk").as("sk_b"))),
        col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .as("n_shared_est"))
      .localCheckpoint(true)
    finally sk.unpersist(blocking = false)
  }

  /** Dedup-funnel report — the per-ingest observability row every real
    * pipeline publishes: how many documents survive each prep rule.
    * Stages are RULE counts (each against its stated input), chainable
    * when the rules nest:
    *
    *   - `1_raw` — corpus size;
    *   - `2_exact_unique` — distinct content digests;
    *   - `3_neardup_survivors` — docs that are not the dropped (higher
    *     doc_id) side of an exact n-gram Jaccard pair at 0.7
    *     ([[Dedup.ngramJaccardJoinMaterialized]] — the EXACT dedup
    *     family member, so the funnel's oracle stays an equi-join
    *     shape, never all-pairs);
    *   - `4_quality_passed` — survivors with quality_score ≥ 1.0 (the
    *     same per-row score x8 checks).
    *
    * Every count is an integer aggregate; the quality threshold is the
    * same per-row expression tree the x8/x14 oracles already pin. One
    * small output row per stage — the aggregates fold map-side. */
  def prepFunnel(docs: DataFrame): DataFrame =
    prepFunnel(docs, Dedup.ngramJaccardJoinMaterialized(docs))

  /** [[prepFunnel]] over an ALREADY-COMPUTED near-dup pair set — the
    * shape the query inventory uses: the pair set is an ingest-time
    * artifact shared with the x18 join (a [[graft.util.Artifact]], like
    * the MinHash set x2/x14 share), so the funnel never re-pays the most
    * expensive prep stage. */
  def prepFunnel(docs: DataFrame, neardupPairs: DataFrame): DataFrame = {
    val dropIds = neardupPairs
      .select(col("b_id").as("doc_id")).distinct()
    val survivors = docs.join(dropIds, Seq("doc_id"), "left_anti")
    val stage = (name: String, d: DataFrame) =>
      d.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
    stage("1_raw", docs)
      .unionByName(docs.agg(countDistinct(md5(col("text"))).as("n_docs"))
        .select(lit("2_exact_unique").as("stage"), col("n_docs")))
      .unionByName(stage("3_neardup_survivors", survivors))
      .unionByName(stage("4_quality_passed",
        TextStats.withQuality(survivors).filter(col("quality_score") >= 1.0)))
  }

  /** Join-key skew diagnostic — the report an operator team reads
    * BEFORE choosing a shuffle strategy ([[SkewJoin]] salting, AQE
    * skew thresholds, broadcast cut-offs): per candidate key column,
    * the `topK` heaviest keys with their counts plus the global frame
    * stats (total rows, distinct keys, mean count ×100 and the key's
    * skew factor ×100 — both exact integer, the ×100 fixed-point
    * convention). `skew_x100 = cnt·n_keys·100 div n_rows` is the
    * "how many times the average is this key" number whose product
    * can exceed BIGINT at corpus scale, so it runs in DECIMAL(38,0)
    * (↔ DuckDB HUGEINT, the x87 convention) and casts back after the
    * division.
    *
    * Scale shape: the per-key count is ONE map-side-combinable
    * groupBy (output bounded by key cardinality, not rows); the
    * global stats are a second tiny aggregate broadcast back; top-k
    * is `TakeOrderedAndProject` (each map task forwards its own top
    * `topK`, the driver merges `topK·tasks` rows — never a global
    * sort); the closing rank window runs over ≤ `topK` rows. NULL
    * keys are excluded up front — a NULL never participates in an
    * equi-join, so it cannot skew one. Tiebreak (cnt DESC, key ASC)
    * totally orders the pick, so the report is engine-deterministic. */
  def keySkew(df: DataFrame, key: String, topK: Int = 5): DataFrame = {
    require(topK > 0, s"topK $topK must be positive")
    // the key-count frame feeds the stats aggregate AND the top-k,
    // but its exchange subtree is IDENTICAL in both branches, so
    // ReuseExchange runs the corpus count once (probed: 1 FileScan,
    // 1 ReusedExchange) — no persist needed
    val counts = df.filter(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("key_cnt"))
    val stats = counts.agg(
      sum(col("key_cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"))
    counts.orderBy(col("key_cnt").desc, col(key).asc).limit(topK)
      .crossJoin(broadcast(stats))
      // "key_rank", not "rank" — the x93 lesson: DuckDB treats a bare
      // `rank` in QUALIFY as the window function, not the alias
      .withColumn("key_rank",
        row_number().over(Window.orderBy(col("key_cnt").desc, col(key).asc))
          .cast("long"))
      .withColumn("avg_cnt_x100", expr("n_rows * 100 DIV n_keys"))
      .withColumn("skew_x100", expr(
        "CAST(CAST(key_cnt AS DECIMAL(38,0)) * n_keys * 100 DIV n_rows AS BIGINT)"))
      .select(col("key_rank"), col(key), col("key_cnt"), col("n_rows"),
        col("n_keys"), col("avg_cnt_x100"), col("skew_x100"))
  }

  /** Missing-day feed detection — the gap report [[dailyAnomaly]]
    * cannot produce: a LOW day flags a σ-outlier, but a day with ZERO
    * events never enters the histogram at all (a dead collector looks
    * like silence, not an outlier). Per event type, the days between
    * the type's first and last observed day with NO events: generate
    * the calendar span, anti-join the observed set.
    *
    * Scale shape: the corpus collapses to (type, day) cardinality
    * FIRST (one map-side-combinable groupBy bounded by calendar ×
    * types); the span aggregate, the sequence explode (bounded by
    * calendar days) and the anti-join all run over that tiny frame —
    * the raw stream is touched exactly once. NULL timestamps are
    * dropped (no day to attribute). */
  def ingestGaps(events: DataFrame): DataFrame = {
    // the daily frame feeds the span aggregate AND the anti-join —
    // persist the calendar-bounded frame or both re-pay the corpus
    // count (the sourceOverlap lesson)
    val daily = dailyCounts(events)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val span = daily.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      span.select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("event_type", "day"), "left_anti")
        .select(col("event_type"), col("day").as("missing_day"))
        .localCheckpoint(true)
    } finally daily.unpersist(blocking = false)
  }

  /** Traffic-concentration report — the Pareto/Lorenz point next to
    * [[keySkew]]'s per-key view: how many of the heaviest users
    * account for 80% of all events, and what share of events the top
    * decile of users generates (ppm). The curation question behind it:
    * a corpus whose volume concentrates in a handful of emitters is a
    * deduplication/source-cap problem waiting to happen.
    *
    * Exact integer throughout, computed from the per-user-count
    * HISTOGRAM (value → how many users have that count), NOT a global
    * sort of users: the crossing rank is closed-form inside the
    * crossing value group — `k = users_before +
    * ceil((target − events_before) / v)` — so the corpus-scale sort
    * task a naive running-sum window needs never exists (the X42
    * decomposition); the DuckDB oracle takes exactly that naive
    * ranked-window path, cross-proving the arithmetic. The 80% target
    * is `ceil(4N/5)`; ties inside a value group are interchangeable
    * by construction (every user in the group contributes the same
    * count), so both constructions land on the identical k.
    *
    * Scale shape: one map-side-combinable per-user count (bounded by
    * user cardinality), one count-value histogram (bounded by the
    * value domain), prefix windows over the HISTOGRAM only. */
  def paretoConcentration(events: DataFrame): DataFrame = {
    val perUser = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    // the histogram feeds three consumers, but its exchange subtrees
    // are identical — ReuseExchange runs the corpus count once
    // (probed: 1 FileScan, 4 ReusedExchange); no persist needed
    val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("n_users_c"))
      .withColumn("ev_c", col("c") * col("n_users_c"))
      .withColumn("users_before",
        coalesce(sum(col("n_users_c")).over(
          Window.orderBy(col("c").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("events_before",
        coalesce(sum(col("ev_c")).over(
          Window.orderBy(col("c").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = hist.agg(sum(col("n_users_c")).as("n_users"),
      sum(col("ev_c")).as("n_events"))
    val h = hist.crossJoin(broadcast(tot))
      .withColumn("target", expr("(4 * n_events + 4) DIV 5"))
      .withColumn("k_decile", expr("(n_users + 9) DIV 10"))
    val k80 = h
      .filter(col("events_before") < col("target") &&
        col("events_before") + col("ev_c") >= col("target"))
      .select(expr(
        "users_before + (target - events_before + c - 1) DIV c")
        .as("users_for_80pct"))
    val decile = h
      .filter(col("users_before") < col("k_decile") &&
        col("users_before") + col("n_users_c") >= col("k_decile"))
      .select(expr(
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * " +
          "(events_before + (k_decile - users_before) * c) DIV n_events" +
          " AS BIGINT)").as("top_decile_share_ppm"))
    tot.crossJoin(k80).crossJoin(decile)
      .select(col("n_users"), col("n_events"), col("users_for_80pct"),
        col("top_decile_share_ppm"))
  }

  /** Diurnal activity profile: per (event type, UTC hour-of-day), the
    * event count and its exact ppm share within the type — the
    * time-of-day fingerprint that separates organic traffic (diurnal
    * curve) from machine feeds (flat or spiked), and the companion
    * axis to [[dailyAnomaly]]'s per-day view. Integer hour arithmetic
    * (`us div 3600·10⁶ mod 24`); share = `10⁶·n div type_total`.
    *
    * Scale shape: the stream collapses map-side to types × 24 rows;
    * the per-type totals ride a window over that tiny frame. */
  def hourlyProfile(events: DataFrame): DataFrame = {
    val hourly = events.filter(col("ts").isNotNull)
      .select(col("event_type"),
        expr(s"pmod(${epochFloorDiv(EpochUs, 3600000000L)}, 24)")
          .as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    hourly
      .withColumn("type_total",
        sum(col("n_events")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("hour"), col("n_events"),
        expr("1000000 * n_events DIV type_total").as("share_ppm"))
  }

  /** Two-sample Kolmogorov–Smirnov drift per source: the exact KS
    * statistic (ppm) between each source's doc-length distribution
    * and the whole corpus — `max_v |10⁶·cdf_s(v) − 10⁶·cdf_all(v)|`
    * evaluated at every corpus value, all integer (each cdf is
    * `10⁶·cum div n`). The DISTRIBUTIONAL drift detector next to
    * X59's token-frequency L1: a source whose docs are the right
    * words at the wrong lengths (truncation, concatenation, a
    * changed extractor) shows here first.
    *
    * Scale shape: both histograms are map-side-combinable counts
    * bounded by the value domain; the evaluation grid is
    * |values| × |sources| (domain-bounded, never corpus-bounded) and
    * the carry-forward cdf is a cumulative window over that tiny
    * frame. */
  def ksDrift(docs: DataFrame): DataFrame = {
    val d = docs.select(col("source"),
      length(coalesce(col("text"), lit(""))).cast("long").as("v"))
    val allHist = d.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum_all", sum(col("cnt")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val nAll = allHist.agg(sum(col("cnt")).as("n_all"))
    val srcHist = d.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("scnt"))
    val nSrc = srcHist.groupBy(col("source")).agg(sum(col("scnt")).as("n_src"))
    // evaluation grid: every corpus value × every source, with the
    // source's cdf carried forward across values it lacks
    val grid = allHist.select(col("v"), col("cum_all"))
      .crossJoin(nSrc.select(col("source")))
      .join(srcHist, Seq("source", "v"), "left")
      .withColumn("cum_src",
        coalesce(sum(coalesce(col("scnt"), lit(0L))).over(
          Window.partitionBy(col("source")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
    grid.join(broadcast(nSrc), Seq("source"))
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("n_src"),
        abs(expr("1000000 * cum_src DIV n_src") -
          expr("1000000 * cum_all DIV n_all")).as("d_ppm"))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_docs"), max(col("d_ppm")).as("ks_ppm"))
  }

  /** Day-of-week activity profile — the weekly-seasonality axis the
    * lag-1 autocorrelation (X143) hints at and [[hourlyProfile]]'s
    * diurnal view can't show: per (type, ISO day-of-week 1=Monday),
    * counts + exact ppm share within type. Integer dow arithmetic
    * from the epoch day (`(day + 3) % 7 + 1` — epoch day 0 was a
    * Thursday), no calendar functions whose week conventions differ
    * across engines. Map-side collapse to types × 7. */
  def dowProfile(events: DataFrame): DataFrame = {
    val daily = events.filter(col("ts").isNotNull)
      .select(col("event_type"),
        (pmod(day(EpochUs) + 3, lit(7)) + 1)
          .as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"))
    daily
      .withColumn("type_total",
        sum(col("n_events")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("dow"), col("n_events"),
        expr("1000000 * n_events DIV type_total").as("share_ppm"))
  }

  /** The full Lorenz curve behind [[paretoConcentration]]'s single
    * point and [[giniConcentration]]'s integral: users in DESCENDING
    * activity deciles (heaviest first), each decile's exact user
    * count and cumulative event share in ppm — the dataviz-ready
    * concentration report. Decile membership comes from the count
    * histogram in closed form (users_before carves each value group
    * across decile boundaries arithmetically — no per-user ranking);
    * the oracle ranks users naively and buckets by rank. Decile
    * d (1-based) covers ranks ((d−1)·n div 10, d·n div 10]. */
  def lorenzCurve(events: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"bucket count $buckets must be positive")
    val perUser = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("m"))
      .withColumn("users_before",
        coalesce(sum(col("m")).over(
          Window.orderBy(col("c").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = hist.agg(sum(col("m")).as("n_users"),
      sum(col("c") * col("m")).as("n_events"))
    // explode each value group into the deciles it straddles: group
    // ranks (users_before, users_before + m] intersect decile ranges
    val h = hist.crossJoin(broadcast(tot))
    val deciles = h
      .select(col("c"), col("m"), col("users_before"), col("n_users"),
        col("n_events"),
        // the range is WIDENED by a unit of slack each side: the
        // floor-div decile boundaries make an exact first/last-decile
        // formula off-by-one-prone, while the rank-interval
        // intersection below is exact — extra deciles self-filter at
        // users_in <= 0, a missed one would silently drop users
        explode(sequence(
          expr(s"greatest(CAST($buckets * users_before DIV n_users AS INT), 1)"),
          expr(s"least(CAST($buckets * (users_before + m) DIV n_users" +
            s" + 2 AS INT), $buckets)")))
          .as("decile"))
      .withColumn("lo", expr(s"(decile - 1) * n_users DIV $buckets"))
      .withColumn("hi", expr(s"decile * n_users DIV $buckets"))
      .withColumn("users_in", expr(
        "least(users_before + m, hi) - greatest(users_before, lo)"))
      .filter(col("users_in") > 0)
      .withColumn("events_in", col("users_in") * col("c"))
    deciles.groupBy(col("decile"))
      .agg(sum(col("users_in")).as("n_users_in"),
        sum(col("events_in")).as("n_events_in"),
        max(col("n_events")).as("n_events"))
      .withColumn("cum_events", sum(col("n_events_in")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_users_in"), col("n_events_in"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * cum_events" +
          " DIV n_events AS BIGINT)").as("cum_share_ppm"))
  }

  /** Referential-integrity audit over a set of named child→parent key
    * relations: per relation, child rows, distinct child keys, orphan
    * keys (child keys with no parent) and the rows they carry — the
    * data-quality gate a warehouse load runs before promoting staging
    * (the reference's typed-DDL world implies these FKs but never
    * checks them). NULL child keys are excluded (SQL FK semantics: a
    * NULL reference is not a violation).
    *
    * Scale shape: each relation reduces the child to its (key, rows)
    * count frame FIRST (map-side combinable, bounded by key
    * cardinality) and anti-joins the parent's distinct-key projection
    * — the raw child table is scanned once and never shuffled beyond
    * the key-count aggregate; per-relation outputs are one row. */
  def refIntegrity(
      relations: Seq[(String, DataFrame, String, DataFrame, String)]
  ): DataFrame = {
    relations.map { case (name, child, childKey, parent, parentKey) =>
      val childCnt = child.filter(col(childKey).isNotNull)
        .groupBy(col(childKey).as("k")).agg(count(lit(1)).as("rows"))
      val orphans = childCnt.join(
        parent.select(col(parentKey).as("k")).distinct(), Seq("k"),
        "left_anti")
      val base = childCnt.agg(
        sum(col("rows")).as("n_child_rows"),
        count(lit(1)).as("n_child_keys"))
      val orph = orphans.agg(
        coalesce(sum(col("rows")), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_orphan_keys"))
      base.crossJoin(orph).select(lit(name).as("relation"),
        col("n_child_rows"), col("n_child_keys"),
        col("n_orphan_rows"), col("n_orphan_keys"))
    }.reduce(_.unionByName(_))
  }

  /** Customer-lifetime-value percentiles: exact PERCENTILE_DISC over
    * per-customer lifetime spend in integer cents (the shared
    * `floor(p·100 + 0.5)` expression) via the [[lengthQuantiles]]
    * histogram-selection construction without the group key — the
    * value at rank ⌈p·n/100⌉ is the smallest LTV whose cumulative
    * customer count reaches it. The revenue-concentration companion
    * of X115's event-side view.
    *
    * Scale shape: one map-side customer fold, one LTV-value histogram
    * (cardinality bounded by distinct LTV values — the X42 caveat: a
    * near-unique money column bounds the prefix task by customer
    * cardinality, the audited-report trade), then the one
    * [[percentileDisc]] carve for every requested percentile. Empty
    * input yields no rows, as the oracle's naive global row_number
    * ranking (the cross-proof) does. */
  def ltvQuantiles(orders: DataFrame, ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val ltv = orders.filter(col("o_custkey").isNotNull)
      .select(col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("ltv"))
    val hist = ltv.groupBy(col("ltv")).agg(count(lit(1)).as("cnt"))
    percentileDisc(hist, Nil, "ltv", "cnt", ps)
      .select(col("p"), col("n").as("n_customers"),
        col("ltv").as("ltv_cents_at_p"))
  }

  /** Market-basket co-occurrence (basket affinity): for every part
    * pair ordered together in at least `minCount` orders, the
    * co-order count and exact integer LIFT in ppm —
    * `c₁₂·N div (c₁·c₂)`, the X112 collocation arithmetic with the
    * basket as the context window instead of adjacency (Agrawal &
    * Srikant's association-rule support/lift, 1994). The
    * recommendation/bundling signal the reference's order data
    * implies but never computes.
    *
    * Scale shape: the self-join keys on `l_orderkey` — pair expansion
    * is bounded by basket size SQUARED (a business constant), never
    * by part popularity; the pair groupBy folds map-side to observed-
    * pair cardinality, marginals re-aggregate from the distinct
    * (order, part) frame, lift products run in DECIMAL(38,0) ↔
    * HUGEINT. */
  def basketAffinity(lineitem: DataFrame, minCount: Long = 3L): DataFrame = {
    require(minCount >= 1, s"minCount $minCount must be positive")
    // the distinct item frame feeds FOUR consumers (total, both sides
    // of the pair self-join, the marginals) — persist it or each
    // re-pays the lineitem scan + distinct (the sourceOverlap lesson)
    // cached WIDE on the join key (the x188 fan-out width pin): AQE
    // coalesces the distinct's byte-sized output to a few partitions
    // and the pair self-join's order-size² expansion would run there;
    // the pin is the session's shuffle sizing — a no-op at cluster
    // scale where the exchange already plans that wide
    val items = lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      .repartition(
        lineitem.sparkSession.sessionState.conf.numShufflePartitions,
        col("o"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = items.select(col("o"), col("p").as("p1"))
        .join(items.select(col("o"), col("p").as("p2")), Seq("o"))
        .filter(col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("pair_cnt"))
      basketAffinityFrom(items, pairs, minCount)
    } finally items.unpersist(blocking = false)
  }

  /** [[basketAffinity]] over PRE-BUILT frames — the shared-artifact
    * entry (r16): `items` is the distinct (o, p) incidence, `pairs`
    * its pair-count frame (p1 < p2, pair_cnt), possibly already cut
    * at some support floor <= `minCount` (the scoring filter below
    * re-applies the exact cut, so a looser standing frame yields the
    * identical result). Marginals and the order total are aggregates
    * of `items`, so the report is bit-identical to the self-contained
    * build over the same lineitem (spec-pinned). Result is eagerly
    * materialized, so callers may release `items` on return. */
  def basketAffinityFrom(
      items: DataFrame, pairs: DataFrame, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount $minCount must be positive")
    val tot = items.agg(countDistinct(col("o")).as("n_orders"))
    val pc = items.groupBy(col("p")).agg(count(lit(1)).as("c"))
    pairs.filter(col("pair_cnt") >= minCount)
      .join(pc.select(col("p").as("p1"), col("c").as("c1")), Seq("p1"))
      .join(pc.select(col("p").as("p2"), col("c").as("c2")), Seq("p2"))
      .crossJoin(broadcast(tot))
      .select(col("p1"), col("p2"), col("pair_cnt"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_orders * pair_cnt" +
          " DIV (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)").as("lift_ppm"))
      .localCheckpoint(true)
  }

  /** Deterministic A/B experiment assignment + sample-ratio-mismatch
    * report: each unit hashes into a per-mille bucket (salted md5-32
    * mod 1000 — assignment is a pure function of (unit, experiment),
    * reproducible across runs and engines, sticky under re-ingest) and
    * the bucket ranges carve the arms; the report row per arm carries
    * the realized allocation in ppm next to the configured one and the
    * absolute deviation — the SRM check an experimentation pipeline
    * gates on before trusting any lift number (a deviation far above
    * hash noise means the logging, not the users, is biased).
    *
    * Scale shape: one codegen'd hash projection + a map-side
    * combinable groupBy bounded by the arm count; the totals broadcast
    * back onto the arm frame. */
  /** The deterministic arm-assignment COLUMN [[abAssignment]] reports
    * on — exposed so outcome readouts ([[abLift]]) join events to the
    * same arms the assignment report counted. */
  def armColumn(idCol: String, experiment: String,
      arms: Seq[(String, Int)]): Column = {
    require(arms.nonEmpty && arms.map(_._2).sum == 1000,
      s"arm allocations ${arms.map(_._2)} must sum to 1000 ppt")
    val bucket = graft.ext.OracleHash.md5Hash32(
      concat(lit(experiment), lit(":"), col(idCol).cast("string"))) % 1000
    val cuts = arms.scanLeft(0) { case (acc, (_, ppt)) => acc + ppt }
    arms.zip(cuts.dropRight(1)).zip(cuts.drop(1)).tail
      .foldLeft(when(bucket < cuts(1), arms.head._1)) {
        case (c, (((name, _), _), hi)) => c.when(bucket < hi, name)
      }
  }

  def abAssignment(units: DataFrame, idCol: String,
      experiment: String = "exp1",
      arms: Seq[(String, Int)] = Seq("control" -> 500, "treatment" -> 500)
  ): DataFrame = {
    val armCol = armColumn(idCol, experiment, arms)
    val counts = units.filter(col(idCol).isNotNull)
      .select(armCol.as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n_units"))
    val tot = counts.agg(sum(col("n_units")).as("n_total"))
    val pptDf = arms.foldLeft(Option.empty[DataFrame]) { case (acc, (name, ppt)) =>
      val row = counts.sparkSession.range(1)
        .select(lit(name).as("arm"), lit(ppt.toLong).as("ppt"))
      Some(acc.fold(row)(_.unionByName(row)))
    }.get
    counts.join(pptDf, Seq("arm"))
      .crossJoin(broadcast(tot))
      .select(col("arm"), col("ppt"), col("n_units"),
        (col("ppt") * 1000L).as("target_ppm"),
        expr("1000000 * n_units DIV n_total").as("actual_ppm"),
        expr("abs(1000000 * n_units DIV n_total - ppt * 1000)")
          .as("dev_ppm"))
  }

  /** SAMPLE-RATIO-MISMATCH (SRM) check — the #1 experiment health
    * gate, run BEFORE any lift number is read (X123 reports arm
    * deviations; this turns them into the chi² goodness-of-fit
    * decision an experimentation platform actually alerts on — a
    * deviation far above hash noise means the LOGGING is biased, and
    * every downstream readout is garbage): one row with the total,
    * the chi² statistic in micro-units, and the flag against the
    * fixed 95 % critical value for k−1 degrees of freedom (df = 1 for
    * the two-arm default: 3.841459 — a FIXED integer literal, the
    * x130/x221 convention; no chi² distribution is ever evaluated at
    * query time).
    *
    * Exact integers: per arm the term is
    * `10⁶ · (1000·n_i − N·ppt_i)² div (1000 · N · ppt_i)` — an
    * independent integral floor per arm (sums-of-floors, the x144
    * convention, stated), every product inside DECIMAL(38,0) ↔
    * HUGEINT. Scale shape: one codegen'd hash projection + an
    * arm-bounded groupBy — the [[abAssignment]] plan with a one-row
    * rollup on top. */
  def srmCheck(units: DataFrame, idCol: String,
      experiment: String = "exp1",
      arms: Seq[(String, Int)] = Seq("control" -> 500, "treatment" -> 500),
      critMicro: Long = 3841459L): DataFrame = {
    val counts = units.filter(col(idCol).isNotNull)
      .select(armColumn(idCol, experiment, arms).as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n_units"))
    val pptDf = arms.foldLeft(Option.empty[DataFrame]) { case (acc, (name, ppt)) =>
      val row = counts.sparkSession.range(1)
        .select(lit(name).as("arm"), lit(ppt.toLong).as("ppt"))
      Some(acc.fold(row)(_.unionByName(row)))
    }.get
    val tot = counts.agg(sum(col("n_units")).as("n_total"))
    counts.join(broadcast(pptDf), Seq("arm"))
      .crossJoin(broadcast(tot))
      .select(col("n_total"),
        expr("CAST(1000000 AS DECIMAL(38,0)) *" +
          " (1000 * CAST(n_units AS DECIMAL(38,0)) - CAST(n_total AS" +
          " DECIMAL(38,0)) * ppt) *" +
          " (1000 * CAST(n_units AS DECIMAL(38,0)) - CAST(n_total AS" +
          " DECIMAL(38,0)) * ppt)" +
          " DIV (1000 * CAST(n_total AS DECIMAL(38,0)) * ppt)")
          .as("term"))
      .groupBy(col("n_total"))
      .agg(sum(col("term")).cast("long").as("chi2_micro"))
      .select(col("n_total"), col("chi2_micro"),
        when(col("chi2_micro") > critMicro, 1L).otherwise(0L)
          .as("srm_detected"))
  }

  /** ERROR-BUDGET BURN monitor — the SRE view of the event stream
    * ("are we burning the 2 % error budget, and how fast"): per day
    * over the DENSE grid, total events, error events, the day's
    * exact error ppm, the rolling 7-day error ppm (the burn window an
    * alert fires on — one bad hour inside a quiet week reads
    * differently from a bad week), and the breach flag against the
    * integer `budgetPpm`. Zero-traffic days report NULL ratios (no
    * traffic is not zero errors — the x223 NULL-base rule) but still
    * count as zero into the rolling window.
    *
    * Exact integers throughout (counts and integral ppm divisions);
    * one map-side (day, is-error) aggregate, then windows over the
    * day-dimension frame (the x161 convention). */
  def errorBudget(
      events: DataFrame, errorType: String = "error",
      budgetPpm: Long = 20000L, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays $windowDays must be positive")
    val daily = events.filter(col("ts").isNotNull)
      .select(day(EpochUs).as("day"),
        when(col("event_type") === errorType, 1L).otherwise(0L).as("e"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("errs"))
    val dense = dayGrid(daily).join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("errs"), lit(0L)).as("errs"))
    val w = Window.orderBy(col("day"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    dense
      .withColumn("n7", sum(col("n")).over(w))
      .withColumn("e7", sum(col("errs")).over(w))
      .select(col("day"), col("n"), col("errs"),
        when(col("n") > 0,
          expr("CAST(CAST(errs AS DECIMAL(38,0)) * 1000000 DIV n" +
            " AS BIGINT)")).as("err_ppm"),
        when(col("n7") > 0,
          expr("CAST(CAST(e7 AS DECIMAL(38,0)) * 1000000 DIV n7" +
            " AS BIGINT)")).as("burn7_ppm"))
      .withColumn("breach",
        when(col("burn7_ppm") > budgetPpm, 1L).otherwise(0L))
  }

  /** SUBSAMPLED MEDIAN confidence band — [[subsampleMeans]]'s order-
    * statistic sibling (a mean CI says nothing about a skewed
    * metric's center): per half-sample replicate (bit b of the ONE
    * salted hash — the x210 membership construction verbatim), the
    * exact P50 via the x30 histogram-rank carve. The spread of the
    * `reps` medians IS the confidence band; no distributional
    * assumption, no RNG, reproducible across engines and re-shards.
    *
    * Scale shape: the replicate explode lands in a map-side
    * (rep, value) histogram; the carve windows run over reps ×
    * distinct values — the x42 caveat applies (a near-unique value
    * column bounds that frame by value cardinality, acceptable for
    * the audited report, not the routine path). */
  def subsampleMedians(
      df: DataFrame, keyCol: String, value: Column,
      reps: Int = 32, salt: String = "ci"): DataFrame = {
    require(reps >= 2 && reps <= 32,
      s"reps $reps must be in [2, 32] (one bit per replicate)")
    val hist = df.select(col(keyCol).cast("string").as("k"), value.as("v"))
      .filter(col("v").isNotNull)
      .withColumn("h", OracleHash.md5Hash32(concat(lit(salt + "|"), col("k"))))
      .select(col("h"), col("v"),
        explode(typedLit((0 until reps).toList)).as("rep"))
      .filter(expr("shiftright(h, rep) & 1") === 0)
      .groupBy(col("rep"), col("v")).agg(count(lit(1)).as("cnt"))
    percentileDisc(hist, Seq("rep"), "v", "cnt", Seq(50))
      .select(col("rep").cast("long").as("rep"), col("n").as("n_rows"),
        col("v").as("p50"))
  }

  /** JOIN-SIZE FORECAST — "how big will this join be, and which keys
    * make it so", answered WITHOUT running the join: `|A ⋈_k B| =
    * Σ_k a_k · b_k` from the two key histograms alone — two map-side
    * counts, one dimension-sized histogram equi-join, never the data
    * join it predicts (the planner-statistics view, done exactly: the
    * audit a skew mitigation (X14) or a broadcast decision is
    * defended with). Emits the top `topK` contributing keys under the
    * (out_rows desc, key) total order plus ONE total row (NULL key,
    * `is_total = 1`) carrying the exact predicted output size and the
    * matched-key count. Per-key products and the total ride
    * DECIMAL(38,0) ↔ HUGEINT (two 10⁶-row keys already pass BIGINT
    * when multiplied at scale). */
  def joinSizeForecast(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK $topK must be positive")
    val a = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).cast("string").as("join_key"))
      .agg(count(lit(1)).as("left_rows"))
    val b = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).cast("string").as("join_key"))
      .agg(count(lit(1)).as("right_rows"))
    val prod = a.join(b, Seq("join_key"))
      .select(col("join_key"), col("left_rows"), col("right_rows"),
        expr("CAST(CAST(left_rows AS DECIMAL(38,0)) * right_rows" +
          " AS DECIMAL(38,0))").as("outd"))
    val top = prod
      .orderBy(col("outd").desc, col("join_key"))
      .limit(topK)
      .select(col("join_key"), col("left_rows"), col("right_rows"),
        col("outd").cast("long").as("out_rows"), lit(0L).as("is_total"))
    val total = prod.agg(
      count(lit(1)).as("n_keys"), sum(col("outd")).as("t"))
      .select(lit(null).cast("string").as("join_key"),
        col("n_keys").as("left_rows"), col("n_keys").as("right_rows"),
        col("t").cast("long").as("out_rows"), lit(1L).as("is_total"))
    top.unionByName(total)
  }

  /** RATE-vs-VOLUME change decomposition — the FP&A mix-shift read
    * ("is revenue down because FEWER orders or SMALLER orders, and in
    * which segment"): the period split is data-derived (`min + (max −
    * min) div 2` on epoch days — the x176 convention, a pure function
    * of the data); per segment, counts and exact cents for both
    * periods, then the classic decomposition with every term exact
    * and the floor dribble VISIBLE:
    * `vol = (n₂ − n₁)·r₁`, `rate = n₂·(r₂ − r₁)`,
    * `residual = Δ − vol − rate`, where `r_p = rev_p div n_p` is the
    * floored per-order mean (0 for an empty period — absorbed by the
    * residual, stated, never re-spread). No negative ever reaches a
    * division: revenues are non-negative cents, only the PRODUCTS go
    * signed. One map-side (segment, period) aggregate; output is
    * segment-sized. */
  def changeDecomposition(orders: DataFrame): DataFrame = {
    val base = orders
      .filter(col("o_orderdate").isNotNull && col("o_orderpriority").isNotNull)
      .select(col("o_orderpriority").as("segment"),
        day("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("day"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val split = base.agg(expr("min(day) + (max(day) - min(day)) DIV 2")
      .as("split"))
    base.crossJoin(broadcast(split))
      .withColumn("p", when(col("day") < col("split"), 1).otherwise(2))
      .groupBy(col("segment"))
      .agg(sum(when(col("p") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("p") === 1, col("cents")).otherwise(0L)).as("rev1"),
        sum(when(col("p") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("p") === 2, col("cents")).otherwise(0L)).as("rev2"))
      .withColumn("r1", when(col("n1") > 0,
        expr("rev1 DIV n1")).otherwise(0L))
      .withColumn("r2", when(col("n2") > 0,
        expr("rev2 DIV n2")).otherwise(0L))
      .select(col("segment"), col("n1"), col("n2"),
        col("rev1"), col("rev2"),
        (col("rev2") - col("rev1")).as("delta_cents"),
        ((col("n2") - col("n1")) * col("r1")).as("vol_effect"),
        (col("n2") * (col("r2") - col("r1"))).as("rate_effect"),
        (col("rev2") - col("rev1") - (col("n2") - col("n1")) * col("r1") -
          col("n2") * (col("r2") - col("r1"))).as("residual"))
  }

  /** WINSORIZED A/B LIFT — the ROBUST experiment readout next to the
    * naive one (X124's lift moves with one whale purchase landing in
    * either arm; the standard production metric clamps to global
    * [p5, p95] first — X61's winsorize fused with X123's arm
    * assignment): purchase cents clamped at the GLOBAL exact
    * percentile bounds (the x126 histogram carve — bounds computed
    * over BOTH arms together, so the clamp itself cannot favor an
    * arm), then per-arm counts, clamped sums, floored means, and the
    * sign-DECOMPOSED staged lift ppm `(mT − mC)/mC` (x141: `10⁶·|Δ|
    * div max(mC,1)` — never a negative through a cross-engine
    * division). One row; a real pipeline reads the SRM gate (X252)
    * first, then this.
    *
    * Scale shape: one hash projection + value-histogram carve (value-
    * domain bounded) + an arm-bounded aggregate; sums in
    * DECIMAL(38,0) ↔ HUGEINT. */
  def winsorizedLift(
      events: DataFrame, experiment: String = "exp1",
      loP: Int = 5, hiP: Int = 95): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"),
        armColumn("user_id", experiment,
          Seq("control" -> 500, "treatment" -> 500)).as("arm"))
    val hist = purchases.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val clamped = purchases
      .crossJoin(broadcast(clampBounds(hist, "cents", loP, hiP)))
      .select(col("arm"), col("lo"), col("hi"),
        least(greatest(col("cents"), col("lo")), col("hi")).as("w"))
    clamped
      .groupBy(col("lo"), col("hi"))
      .agg(
        sum(when(col("arm") === "control", 1L).otherwise(0L)).as("n_c"),
        sum(when(col("arm") === "control",
          expr("CAST(w AS DECIMAL(38,0))")).otherwise(expr(
          "CAST(0 AS DECIMAL(38,0))"))).as("s_c"),
        sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("n_t"),
        sum(when(col("arm") === "treatment",
          expr("CAST(w AS DECIMAL(38,0))")).otherwise(expr(
          "CAST(0 AS DECIMAL(38,0))"))).as("s_t"))
      .withColumn("mean_c",
        when(col("n_c") > 0, expr("CAST(s_c DIV n_c AS BIGINT)"))
          .otherwise(0L))
      .withColumn("mean_t",
        when(col("n_t") > 0, expr("CAST(s_t DIV n_t AS BIGINT)"))
          .otherwise(0L))
      .select(col("lo").as("lo_cents"), col("hi").as("hi_cents"),
        col("n_c"), col("n_t"), col("mean_c"), col("mean_t"),
        when(col("mean_c") > 0, expr(
          "CAST((CASE WHEN mean_t < mean_c THEN -1 ELSE 1 END) *" +
            " (CAST(1000000 AS DECIMAL(38,0)) * abs(mean_t - mean_c)" +
            " DIV mean_c) AS BIGINT)")).as("lift_ppm"))
  }

  /** CUPED DIAGNOSTICS — the variance-reduction pre-read every modern
    * experimentation platform computes before trusting (or sizing) an
    * A/B test (Deng et al., WSDM'13): with pre-period user revenue as
    * the covariate, `θ = cov(x,y)/var(x)` is the adjustment
    * coefficient and `ρ² = cov²/(var_x·var_y)` is EXACTLY the
    * fraction of metric variance CUPED removes — "ρ² = 0.4 means 40 %
    * less variance, i.e. the same power at 60 % of the traffic". The
    * period split is data-derived (x176); the user universe is
    * everyone with a purchase in either period, absent periods count
    * 0 (a new user's pre-period IS zero — dropping them would bias θ
    * toward heavy users).
    *
    * Exact integers end to end: per-user cents, the x209/x129 moment
    * machinery in DECIMAL(38,0) ↔ HUGEINT, θ sign-DECOMPOSED
    * (`10⁶·|cov| div var_x`, x128 rule), ρ² through the x141 STAGED
    * division (`(10⁶·|cov| div max) · |cov| div min` — Cauchy-Schwarz
    * keeps the first quotient ≤ 10⁶). Zero-variance sides report 0.
    * One map-side (user, period) aggregate → one user-keyed pivot →
    * one one-row moment aggregate. */
  def cupedDiagnostics(events: DataFrame): DataFrame = {
    val base = events
      .filter(col("event_type") === "purchase" && col("ts").isNotNull &&
        col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"),
        day(EpochUs).as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val split = base.agg(expr("min(day) + (max(day) - min(day)) DIV 2")
      .as("split"))
    val perUser = base.crossJoin(broadcast(split))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("split"), col("cents"))
        .otherwise(0L)).as("x"),
        sum(when(col("day") >= col("split"), col("cents"))
          .otherwise(0L)).as("y"))
    perUser
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("cov", expr("n * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("varx", expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("vary", expr("n * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .select(col("n").as("n_users"),
        when(col("n") < 2 || col("varx") <= 0, lit(0L))
          .otherwise(expr(
            "CAST((CASE WHEN cov < 0 THEN -1 ELSE 1 END) *" +
              " (CAST(1000000 AS DECIMAL(38,0)) * abs(cov) DIV varx)" +
              " AS BIGINT)")).as("theta_ppm"),
        when(col("n") < 2 || col("varx") <= 0 || col("vary") <= 0, lit(0L))
          .otherwise(expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * abs(cov)" +
              " DIV greatest(varx, vary)) * abs(cov)" +
              " DIV least(varx, vary) AS BIGINT)"))
          .as("var_reduction_ppm"))
  }

  /** SRM TREND — the debugging follow-up to [[srmCheck]] ("the ratio
    * broke: WHEN did it break?"): per day over the dense grid, the
    * CUMULATIVE distinct users entered per arm (first-appearance
    * counting, the x213 rule — a user enters an experiment once) and
    * the chi² statistic over those cumulative counts, flagged against
    * the same fixed df=1 critical literal. A logging bug shows as the
    * day the flag turns on and stays on; hash noise flickers near the
    * boundary and dies as N grows. Same per-arm integral floors as
    * X252 (sums-of-floors, DECIMAL(38,0) ↔ HUGEINT).
    *
    * Scale shape: one distinct-user first-day aggregate, day×arm
    * zero-filled grid, running sums and the chi² projection all over
    * the day-dimension frame. */
  def srmTrend(
      events: DataFrame, experiment: String = "exp1",
      critMicro: Long = 3841459L): DataFrame = {
    val base = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        day(EpochUs).as("day"))
    val firstDay = base
      .groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .select(col("day"),
        armColumn("user_id", experiment,
          Seq("control" -> 500, "treatment" -> 500)).as("arm"))
      .groupBy(col("day"), col("arm")).agg(count(lit(1)).as("c"))
    // the grid spans the OBSERVED event range, not just entry days —
    // "the day the ratio broke" must extend through quiet days too
    val daily = dayGrid(base)
      .join(firstDay.filter(col("arm") === "control")
        .select(col("day"), col("c").as("nc")), Seq("day"), "left")
      .join(firstDay.filter(col("arm") === "treatment")
        .select(col("day"), col("c").as("nt")), Seq("day"), "left")
      .select(col("day"), coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("nt"), lit(0L)).as("nt"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_c", sum(col("nc")).over(w))
      .withColumn("cum_t", sum(col("nt")).over(w))
      .withColumn("n", col("cum_c") + col("cum_t"))
      .withColumn("chi2_micro", expr(
        "CAST(" +
          "CAST(1000000 AS DECIMAL(38,0)) *" +
          " (1000 * CAST(cum_c AS DECIMAL(38,0)) - CAST(n AS" +
          " DECIMAL(38,0)) * 500) *" +
          " (1000 * CAST(cum_c AS DECIMAL(38,0)) - CAST(n AS" +
          " DECIMAL(38,0)) * 500)" +
          " DIV (1000 * CAST(n AS DECIMAL(38,0)) * 500)" +
          " + CAST(1000000 AS DECIMAL(38,0)) *" +
          " (1000 * CAST(cum_t AS DECIMAL(38,0)) - CAST(n AS" +
          " DECIMAL(38,0)) * 500) *" +
          " (1000 * CAST(cum_t AS DECIMAL(38,0)) - CAST(n AS" +
          " DECIMAL(38,0)) * 500)" +
          " DIV (1000 * CAST(n AS DECIMAL(38,0)) * 500) AS BIGINT)"))
      .select(col("day"), col("cum_c"), col("cum_t"), col("chi2_micro"),
        when(col("chi2_micro") > critMicro, 1L).otherwise(0L)
          .as("srm_detected"))
  }

  /** Exact Gini coefficient over per-user event counts — the
    * single-number companion of [[paretoConcentration]] (a Lorenz
    * point answers "how many users cover 80%"; Gini integrates the
    * whole curve). Computed from the count HISTOGRAM in closed form:
    * for a value group (v, m users, b users before it ascending) the
    * rank-weighted sum `Σ_{i=b+1}^{b+m} (2i−n−1)·v` collapses to
    * `v·m·(2b + m − n)` — exact integer, no per-user ranking, so the
    * corpus-scale sort of the textbook formula never exists; the
    * DuckDB oracle takes exactly that textbook ranked path. Products
    * run in DECIMAL(38,0) ↔ HUGEINT. Output: one row —
    * (n_users, n_events, gini_ppm). Degenerate single-user frames
    * report 0 (no inequality without a pair). */
  def giniConcentration(events: DataFrame): DataFrame = {
    val perUser = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("m"))
      .withColumn("b",
        coalesce(sum(col("m")).over(
          Window.orderBy(col("c").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = hist.agg(sum(col("m")).as("n_users"),
      sum(col("c") * col("m")).as("n_events"))
    hist.crossJoin(broadcast(tot))
      .select(col("n_users"), col("n_events"),
        expr("CAST(c AS DECIMAL(38,0)) * m * (2 * b + m - n_users)")
          .as("term"))
      .groupBy(col("n_users"), col("n_events"))
      .agg(sum(col("term")).as("num"))
      .select(col("n_users"), col("n_events"),
        when(col("n_users") < 2, lit(0L)).otherwise(expr(
          "CAST(CAST(1000000 AS DECIMAL(38,0)) * num DIV " +
            "(CAST(n_users AS DECIMAL(38,0)) * n_events) AS BIGINT)"))
          .as("gini_ppm"))
  }

  /** Experiment OUTCOME readout — the lift report on the other side
    * of [[abAssignment]]'s coin flip: purchases joined to their arm
    * by the SAME salted hash, per-arm purchase count, distinct
    * buyers, and revenue in exact integer cents (the shared
    * `floor(v·100+0.5)` expression, summed as integers — never a
    * float aggregate). `mean_cents` is the integral-div per-purchase
    * average. A real pipeline runs the SRM gate (x110) first, then
    * reads this.
    *
    * Scale shape: one hash projection on the purchase scan + an
    * arm-bounded map-side groupBy. */
  def abLift(events: DataFrame,
      experiment: String = "exp1",
      arms: Seq[(String, Int)] = Seq("control" -> 500, "treatment" -> 500)
  ): DataFrame = {
    events
      .filter(col("event_type") === "purchase" && col("user_id").isNotNull &&
        col("value").isNotNull)
      .select(armColumn("user_id", experiment, arms).as("arm"),
        col("user_id"),
        expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_buyers"),
        sum(col("cents")).as("total_cents"))
      .select(col("arm"), col("n_purchases"), col("n_buyers"),
        col("total_cents"),
        expr("total_cents DIV n_purchases").as("mean_cents"))
  }

  /** Lag-1 autocorrelation of per-type daily counts — "is this feed
    * trending/periodic or memoryless", the time-series companion of
    * X99's point anomalies. Reported as SIGNED SQUARED Pearson in ppm
    * (`sign(num)·10⁶·num² div (den_x·den_y)` with
    * `num = m·Σxy − Σx·Σy`, `den = m·Σx² − (Σx)²` — the X103
    * no-square-root convention, so the statistic is exact integer and
    * hash-comparable; the division only ever sees non-negative
    * operands). Products run in DECIMAL(38,0) ↔ HUGEINT; the bound is
    * documented: num² stays inside 38 digits for daily counts up to
    * ~10⁸ — normalize the day counts first beyond that. Types with
    * fewer than 3 days (or zero variance) report 0.
    *
    * Scale shape: the corpus collapses map-side to type×day
    * cardinality; the lag window and the moment fold run over that
    * calendar-bounded frame. */
  def dailyAutocorr(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events).withColumnRenamed("n", "x")
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("num", expr("m * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("denx", expr("m * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("deny", expr("m * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .select(col("event_type"), col("m").as("n_pairs"),
        when(col("m") < 2 || col("denx") <= 0 || col("deny") <= 0, lit(0L))
          .otherwise(expr(
            "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) * " +
              "(CAST(1000000 AS DECIMAL(38,0)) * num * num " +
              "DIV (denx * deny)) AS BIGINT)"))
          .as("r2_signed_ppm"))
  }

  /** Benford first-digit audit over order totals — the classic
    * fabricated-data screen (Benford 1938; Nigrini's audit practice):
    * per leading digit 1–9 of the integer cents, the observed count,
    * observed ppm, the Benford expectation `log₁₀(1+1/d)` as FIXED
    * integer-ppm literals (no float log at query time), and the
    * absolute deviation. A synthetic-uniform price book fails this
    * loudly — which is itself the point: the gate pins the
    * ARITHMETIC, not a conformance verdict. */
  def benfordDigits(orders: DataFrame): DataFrame = {
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val counts = orders.filter(col("o_totalprice").isNotNull)
      .select(expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)" +
          " AS STRING), 1, 1) AS INT)").as("digit"))
      .filter(col("digit") >= 1) // a zero-cents order has no leading digit
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    val exp = expected.zipWithIndex.map { case (e, i) =>
      counts.sparkSession.range(1)
        .select(lit(i + 1).as("digit"), lit(e).as("expected_ppm"))
    }.reduce(_.unionByName(_))
    counts.join(exp, Seq("digit"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("1000000 * n DIV n_total").as("actual_ppm"),
        col("expected_ppm"),
        expr("abs(1000000 * n DIV n_total - expected_ppm)").as("dev_ppm"))
  }

  /** Quantile-rank transform: each row's value replaced by its exact
    * percentile position `10⁶·(rows ≤ value) div n` — the
    * rank-normalization that makes heterogeneous signals comparable
    * before ensembling (scores from different models live on
    * different scales; their RANKS don't). Integer-exact via the
    * value histogram + cumulative window (the X42 decomposition: the
    * corpus never sorts, the window runs over distinct values — with
    * the documented near-unique-value caveat), joined back on the
    * value. Ties share the rank of their group's LAST member — the
    * `cume_dist` convention, spelled in integers.
    *
    * NULL values are excluded up front (rows with a NULL signal carry
    * no rank): Spark windows order NULLs FIRST while DuckDB orders
    * them LAST, so letting NULL into the histogram shifts every
    * cumulative count cross-engine — and the join-back would drop the
    * NULL rows silently anyway. The filter makes the exclusion
    * explicit and engine-independent. */
  def percentileRank(df: DataFrame, value: String, id: String): DataFrame = {
    val nn = df.filter(col(value).isNotNull)
    val hist = nn.groupBy(col(value)).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col(value))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = hist.agg(sum(col("cnt")).as("n"))
    nn.select(col(id), col(value))
      .join(hist.select(col(value), col("cum")), Seq(value))
      .crossJoin(broadcast(tot))
      .select(col(id), col(value),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * cum DIV n AS BIGINT)")
          .as("pct_ppm"))
  }

  /** The global P`loP`/P`hiP` values of a (`value`, cnt) histogram
    * as ONE row (lo, hi) — both NULL on an empty histogram — for a
    * clamp to cross-join: one [[percentileDisc]] carve, pivoted. */
  private def clampBounds(
      hist: DataFrame, value: String, loP: Int, hiP: Int): DataFrame =
    percentileDisc(hist, Nil, value, "cnt", Seq(loP, hiP))
      .agg(min(when(col("p") === loP, col(value))).as("lo"),
        min(when(col("p") === hiP, col(value))).as("hi"))

  /** Winsorization: clamp a signal at its exact P`loP`/P`hiP` bounds
    * (rank-selection semantics, the X42 construction) — the robust-
    * statistics transform that tames outliers WITHOUT dropping rows
    * (a z-score over raw web-doc lengths is dominated by the tail;
    * winsorize first and the moments mean something). Bounds are the
    * smallest values whose cumulative count reaches ⌈p·n/100⌉; the
    * clamp is a per-row `least(greatest(...))` riding the scan.
    *
    * NULL values are excluded up front, same contract and reason as
    * [[percentileRank]]: cross-engine NULL ordering in the cumulative
    * window would shift the bounds, and a NULL cannot be clamped. */
  def winsorize(df: DataFrame, value: String, id: String,
      loP: Int = 5, hiP: Int = 95): DataFrame = {
    require(loP >= 1 && hiP <= 100 && loP < hiP,
      s"bounds [$loP, $hiP] must satisfy 1 <= lo < hi <= 100")
    val nn = df.filter(col(value).isNotNull)
    val hist = nn.groupBy(col(value)).agg(count(lit(1)).as("cnt"))
    nn.select(col(id), col(value))
      .crossJoin(broadcast(clampBounds(hist, value, loP, hiP)))
      .select(col(id), col(value),
        least(greatest(col(value), col("lo")), col("hi"))
          .as(s"${value}_winsorized"))
  }

  /** Order-fulfilment lag percentiles: exact P50/P90 of the
    * ship-minus-order lag in integer days, per order priority — the
    * operational-SLA report over the reference's own order data, and
    * the first quantile instance over a FACT-TO-FACT join (every
    * lineitem joins its order header first). Selection is the
    * [[lengthQuantiles]] construction keyed on priority. */
  def shipLagQuantiles(orders: DataFrame, lineitem: DataFrame,
      ps: Seq[Int] = Seq(50, 90)): DataFrame = {
    val lag = lineitem
      .select(col("l_orderkey").as("o_orderkey"),
        expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("ship_us"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("order_us")),
        Seq("o_orderkey"))
      .select(col("o_orderpriority"),
        // floor, not truncate, like every Stats.day bucket: a negative
        // lag (data-entry error, ship before order) lands on the day
        // before; the oracle's // truncates (DuckDB 1.0.0), so the two
        // agree only while lags stay non-negative
        day("ship_us - order_us")
          .as("lag_days"))
    val hist = lag.groupBy(col("o_orderpriority"), col("lag_days"))
      .agg(count(lit(1)).as("cnt"))
    percentileDisc(hist, Seq("o_orderpriority"), "lag_days", "cnt", ps)
      .select(col("o_orderpriority"), col("p"), col("n").as("n_items"),
        col("lag_days").as("lag_days_at_p"))
  }

  /** Repeat-purchase cadence percentiles per customer segment — the
    * purchase-rhythm report next to X141's fulfilment lag (that one
    * measures order→ship; this measures order→NEXT order, the number
    * a replenishment or win-back campaign is timed against): each
    * customer's consecutive order-day gaps (the gap multiset depends
    * only on the sorted days, so same-day ties cannot flip it — the
    * X161 argument), rolled into per-segment exact P50/P90 via the
    * X42 histogram selection. Day boundaries floor-divide the epoch
    * (the X160 convention).
    *
    * Scale shape: one `o_custkey` shuffle for the lag window, the
    * segment dim BROADCAST onto the gap rows, then the histogram
    * carve — everything after the window is bounded by
    * segments × gap-day domain. */
  def repeatPurchaseGaps(
      orders: DataFrame, customer: DataFrame,
      ps: Seq[Int] = Seq(50, 90)): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
    val gaps = orders
      .filter(col("o_orderdate").isNotNull && col("o_custkey").isNotNull)
      .select(col("o_custkey"),
        day("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("day"))
      .withColumn("gap_days", col("day") - lag(col("day"), 1).over(byCust))
      .filter(col("gap_days").isNotNull)
      .join(broadcast(customer.select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment"))), Seq("o_custkey"))
    val hist = gaps.groupBy(col("c_mktsegment"), col("gap_days"))
      .agg(count(lit(1)).as("cnt"))
    percentileDisc(hist, Seq("c_mktsegment"), "gap_days", "cnt", ps)
      .select(col("c_mktsegment"), col("p"), col("n").as("n_gaps"),
        col("gap_days").as("gap_days_at_p"))
  }

  /** Exact GLOBAL ntile via the decomposed-histogram rank (the X82
    * per-partition form without the partition key): value histogram →
    * exclusive prefix over the tiny histogram → per-value row_number
    * windows parallel across values → closed-form band arithmetic.
    * Ordering is (`value` DESC|ASC, `id` ASC) — `id` completes the
    * total order so band assignment is engine-deterministic. The
    * histogram prefix-sum runs in ONE task over |distinct values|
    * rows (the X42 caveat: a near-unique value column bounds that
    * task by key cardinality, not corpus rows — acceptable for the
    * audited report, not the routine path). */
  /** Calibration / reliability curve: rows bucketed into exact score
    * ntiles (ascending, `id` tiebreak — [[globalNtile]]'s closed-form
    * histogram carve, so the corpus never globally sorts), each bucket
    * reporting its size, positive-outcome count, exact positive rate
    * in ppm, and its score span. THE classifier-audit report: a
    * quality score that is well calibrated against a trusted outcome
    * has a monotone curve; a flat curve means the score carries no
    * signal at the decision margin. The oracle cross-proves with
    * DuckDB's NATIVE ntile over the identical (score, id) total order
    * — two independent constructions must agree bucket-for-bucket
    * (the X94 convention).
    *
    * Scale shape: one value-histogram groupBy + a domain-bounded
    * prefix window (the [[globalNtile]] plan), then one
    * map-side-combinable groupBy on the bucket id. */
  def calibrationCurve(
      df: DataFrame, score: String, outcome: String, id: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"bucket count $buckets must be positive")
    val scored = df
      .filter(col(score).isNotNull && col(outcome).isNotNull)
      .select(col(id), col(score), col(outcome).cast("int").as("__pos"))
    globalNtile(scored, score, descOrder = false, id, buckets, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("__pos")).as("n_pos"),
        min(col(score)).as("score_lo"),
        max(col(score)).as("score_hi"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("1000000 * n_pos DIV n").as("pos_ppm"),
        col("score_lo"), col("score_hi"))
  }

  /** MURPHY DECOMPOSITION of the binned Brier score — the calibration
    * VERDICT where [[calibrationCurve]] is the picture and the
    * Mann-Whitney AUC (x186) is only discrimination (a classifier can
    * rank perfectly and still be wildly miscalibrated; training-data
    * quality weighting needs the probabilities themselves to be
    * honest): rows bin by forecast ntile (the [[calibrationCurve]]
    * histogram carve — never a global sort), and per Murphy (1973)
    * `brier = REL − RES + UNC` with reliability
    * `Σ n_b·(f_b−o_b)² div N` (how far each bin's floored mean
    * forecast sits from its observed rate — 0 is perfectly
    * calibrated), resolution `Σ n_b·(o_b−ō)² div N` (how much the
    * bins separate outcomes), and uncertainty `ō·(10⁶−ō)` (the
    * no-skill floor). Forecasts are integer ppm in [0, 10⁶]; every
    * squared term rides DECIMAL(38,0) ↔ HUGEINT and each reported
    * component is one integral floor (sums-of-floors on the composed
    * `brier_ppm2`, stated — the x144 convention). Output is ONE row
    * in ppm² units: (n, n_pos, obar_ppm, rel_ppm2, res_ppm2,
    * unc_ppm2, brier_ppm2).
    *
    * Scale shape: the [[calibrationCurve]] plan (value histogram +
    * domain-bounded prefix window + map-side bucket aggregate), then
    * everything lives on the `buckets`-row frame with a one-row
    * broadcast total. */
  def brierDecomposition(
      df: DataFrame, forecastPpm: String, outcome: String, id: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"bucket count $buckets must be positive")
    val scored = df
      .filter(col(forecastPpm).isNotNull && col(outcome).isNotNull)
      .select(col(id), col(forecastPpm),
        col(outcome).cast("long").as("__pos"))
    val byBin = globalNtile(scored, forecastPpm, descOrder = false, id,
      buckets, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_b"), sum(col("__pos")).as("pos_b"),
        sum(col(forecastPpm)).as("f_sum"))
      .select(col("n_b"), col("pos_b"),
        expr("f_sum DIV n_b").as("f_b"),
        expr("1000000 * pos_b DIV n_b").as("o_b"))
    val tot = byBin.agg(sum(col("n_b")).as("n"), sum(col("pos_b")).as("np"))
      .select(col("n"), col("np"), expr("1000000 * np DIV n").as("obar"))
    byBin.crossJoin(broadcast(tot))
      .agg(first(col("n")).as("n"), first(col("np")).as("n_pos"),
        first(col("obar")).as("obar_ppm"),
        sum(expr("CAST(n_b AS DECIMAL(38,0)) * (f_b - o_b) * (f_b - o_b)"))
          .as("rel_num"),
        sum(expr("CAST(n_b AS DECIMAL(38,0)) * (o_b - obar) * (o_b - obar)"))
          .as("res_num"))
      .select(col("n"), col("n_pos"), col("obar_ppm"),
        expr("CAST(rel_num DIV n AS BIGINT)").as("rel_ppm2"),
        expr("CAST(res_num DIV n AS BIGINT)").as("res_ppm2"),
        expr("obar_ppm * (1000000 - obar_ppm)").as("unc_ppm2"))
      .withColumn("brier_ppm2",
        expr("rel_ppm2 - res_ppm2 + unc_ppm2"))
  }

  /** EXPECTED CALIBRATION ERROR — the single headline number on top of
    * [[calibrationCurve]]'s picture and [[brierDecomposition]]'s
    * decomposition (the number an LLM-judge or quality-gate rollout
    * is actually thresholded on): bin by forecast ntile exactly as
    * the Brier path does, then `ece_ppm = Σ n_b·|f̄_b − ō_b| div N`
    * plus the max-bin gap (MCE). Pure integer throughout — bin means
    * are the same floored ppm quantities as [[brierDecomposition]]'s,
    * the weighted products stage through DECIMAL(38,0) ↔ HUGEINT
    * (n_b·10⁶ brushes int64 at 10¹² rows), and the final division is
    * one integral floor. One row out.
    *
    * Scale shape: identical to the Brier leg — the histogram-carve
    * ntile (never a global sort), then everything lives on the
    * buckets-row frame. */
  def ece(
      df: DataFrame, forecastPpm: String, outcome: String, id: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"bucket count $buckets must be positive")
    val scored = df
      .filter(col(forecastPpm).isNotNull && col(outcome).isNotNull)
      .select(col(id), col(forecastPpm),
        col(outcome).cast("long").as("__pos"))
    val byBin = globalNtile(scored, forecastPpm, descOrder = false, id,
      buckets, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_b"), sum(col("__pos")).as("pos_b"),
        sum(col(forecastPpm)).as("f_sum"))
      .select(col("n_b"), col("pos_b"),
        expr("f_sum DIV n_b").as("f_b"),
        expr("1000000 * pos_b DIV n_b").as("o_b"))
    // grouped on a constant, NOT a global aggregate: an empty or
    // all-NULL input must yield ZERO rows (matching the oracle's
    // GROUP BY shape), never one all-NULL row
    byBin.groupBy(lit(1).as("__g"))
      .agg(sum(col("n_b")).as("__n"), sum(col("pos_b")).as("__np"),
        sum(expr("CAST(n_b AS DECIMAL(38,0)) * abs(f_b - o_b)"))
          .as("__gap"),
        max(expr("abs(f_b - o_b)")).as("mce_ppm"))
      .select(col("__n").as("n"), col("__np").as("n_pos"),
        expr("CAST(__gap DIV __n AS BIGINT)").as("ece_ppm"),
        col("mce_ppm"))
  }

  /** Per-group trimmed mean — the robust location estimate next to
    * [[winsorize]] (winsorize CLAMPS the tails, trim DROPS them):
    * per group, discard the lowest ⌈pLo·n/100⌉ and highest
    * ⌈pHi·n/100⌉ ranks and report the exact integer sum/count/mean of
    * the interior. Rank ties are interchangeable by construction
    * (tied rows share the value), so the kept SUM is independent of
    * any tiebreak — which is what lets the oracle use a naive
    * tiebreak-free ranked window as the independent construction.
    * NULL group values keep their group (the X30 lesson); NULL
    * signal rows are excluded. Fully-trimmed groups (tiny n, heavy
    * trim) emit zeros under an explicit guard.
    *
    * Scale shape: the X139 decomposition again — per-group value
    * histogram (map-side-combinable, bounded by group × value
    * domain), cumulative window over the histogram, and the kept
    * count per value in closed form (`min(cum, hi) − max(cum−cnt,
    * lo)` interval intersection, the X146 carve); no group ever
    * funnels through one sorting task. Mean in x1000 fixed-point via
    * decimal integral division. */
  /** Tukey-fence (box-plot) outlier audit per group: exact
    * PERCENTILE_DISC Q1/Q3 via the X42 histogram rank carve, then the
    * count of rows beyond the k·IQR fences on each side — the robust
    * companion to X35's moment z-score (a single 10⁹ outlier inflates
    * a z-score's own σ until nothing flags; quartiles don't move).
    * The classic k = 1.5 rides as `fenceHalf = 3` (half-steps of
    * IQR/2), so the fence comparison `2v < 2·q1 − fenceHalf·iqr`
    * stays pure integer — no 1.5 ever enters the arithmetic. NULL
    * values and NULL groups are dropped up front (cross-engine NULL
    * ordering, the percentileRank rationale).
    *
    * Scale shape: everything after the first groupBy is bounded by
    * group × distinct-value domain — the histogram feeds the prefix
    * window, the quartile carve, and the fence count; no per-row
    * window, no self-join of raw rows.
    *
    * Output: (group, n, q1, q3, n_low, n_high). */
  def tukeyOutliers(
      df: DataFrame, value: String, group: String,
      fenceHalf: Int = 3): DataFrame = {
    require(fenceHalf >= 0, s"fence half-steps $fenceHalf must be >= 0")
    val hist = df.filter(col(value).isNotNull && col(group).isNotNull)
      .groupBy(col(group), col(value)).agg(count(lit(1)).as("cnt"))
    val fences = percentileDisc(hist, Seq(group), value, "cnt", Seq(25, 75))
      .groupBy(col(group), col("n"))
      .agg(min(when(col("p") === 25, col(value))).as("q1"),
        min(when(col("p") === 75, col(value))).as("q3"))
    hist.join(broadcast(fences), Seq(group))
      .groupBy(col(group), col("n"), col("q1"), col("q3"))
      .agg(
        sum(when(lit(2L) * col(value) <
          lit(2L) * col("q1") - lit(fenceHalf.toLong) * (col("q3") - col("q1")),
          col("cnt")).otherwise(0L)).as("n_low"),
        sum(when(lit(2L) * col(value) >
          lit(2L) * col("q3") + lit(fenceHalf.toLong) * (col("q3") - col("q1")),
          col("cnt")).otherwise(0L)).as("n_high"))
      .select(col(group), col("n"), col("q1"), col("q3"),
        col("n_low"), col("n_high"))
  }

  def trimmedMean(
      df: DataFrame, value: String, group: String,
      pLo: Int = 5, pHi: Int = 5): DataFrame = {
    require(pLo >= 0 && pHi >= 0 && pLo + pHi < 100,
      s"trim [$pLo, $pHi] must be non-negative and leave an interior")
    val hist = df.filter(col(value).isNotNull)
      .groupBy(col(group), col(value)).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col(group)).orderBy(col(value))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(group))))
    hist
      .withColumn("lo_rank", nearestRank(pLo.toString, "n"))
      .withColumn("hi_rank", col("n") - nearestRank(pHi.toString, "n"))
      .withColumn("kept", greatest(lit(0L),
        least(col("cum"), col("hi_rank")) -
          greatest(col("cum") - col("cnt"), col("lo_rank"))))
      .groupBy(col(group))
      .agg(max(col("n")).as("n"),
        sum(col("kept")).as("n_kept"),
        sum(col("kept") * col(value)).as("kept_sum"))
      .select(col(group), col("n"), col("n_kept"),
        coalesce(col("kept_sum"), lit(0L)).as("kept_sum"),
        // sign-decomposed (the X142 convention): a negative-signal
        // kept_sum must not meet the truncate-vs-floor divergence
        when(col("n_kept") === 0, lit(0L)).otherwise(expr(
          "CASE WHEN kept_sum >= 0 THEN " +
            "CAST(CAST(1000 AS DECIMAL(38,0)) * kept_sum DIV n_kept AS BIGINT) " +
            "ELSE -CAST(CAST(1000 AS DECIMAL(38,0)) * (-kept_sum) DIV n_kept AS BIGINT) END"))
          .as("trimmed_mean_x1000"))
  }

  /** Spearman rank correlation between two integer signals — the
    * monotone-association companion to Kendall's τ (X142): Pearson
    * over the signals' TIE-AWARE ranks. Ranks are DOUBLED average
    * ranks (`2·avg_rank(v) = 2·prefix + cnt + 1` — an integer even
    * under ties, so no fractional half ever enters the arithmetic),
    * derived from each signal's value histogram + prefix window (the
    * X139 decomposition: the corpus never sorts; the window runs over
    * distinct values) and joined back on the value. The output is the
    * X143 signed-square convention — `sign(num)·10⁶·num²/(denₓ·den_y)`
    * ppm, integer, no sqrt — with moments in DECIMAL(38,0) ↔ DuckDB
    * HUGEINT, and the final division STAGED so the full-magnitude
    * numerator is never squared (`10⁶·num²` reaches ≈2.3·10³⁸ at
    * n ≈ 15k, rho ≈ 0.9 — Spark silently NULLs on DECIMAL overflow
    * where DuckDB errors): `q = 10⁶·|num| div max(denₓ,den_y)` is
    * ≤ 10⁶ by Cauchy–Schwarz, then `q·|num| div min(denₓ,den_y)`.
    * Headroom is now the moment bound only — `m·Σxy ≲ 4n⁴` and
    * `10⁶·|num| ≲ 10⁶·n⁴/3` both fit 10³⁸ to n ≈ 4·10⁸ rows; beyond
    * that, correlate a sample. The staging truncates once more than
    * the one-shot form (drift ≤ √(dmax/dmin) ppm — ≈1 ppm here,
    * since both denominators are RANK variances, ≈ m³/3 apart from
    * ties); the oracle computes the IDENTICAL staged expression, so
    * the cross-engine match is exact by construction. Degenerate
    * (constant) signals emit 0 under the explicit zero-variance
    * guard. */
  def spearman(df: DataFrame, x: String, y: String): DataFrame = {
    val d = df.filter(col(x).isNotNull && col(y).isNotNull)
      .select(col(x), col(y))
    def rank2(c: String) =
      d.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("prefix",
          coalesce(sum(col("cnt")).over(
            Window.orderBy(col(c))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col(c), (lit(2) * col("prefix") + col("cnt") + 1).as(s"${c}__r2"))
    d.join(rank2(x), Seq(x)).join(rank2(y), Seq(y))
      .select(col(s"${x}__r2").as("rx"), col(s"${y}__r2").as("ry"))
      .agg(count(lit(1)).as("m"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(expr("CAST(rx AS DECIMAL(38,0)) * ry")).as("sxy"),
        sum(expr("CAST(rx AS DECIMAL(38,0)) * rx")).as("sxx"),
        sum(expr("CAST(ry AS DECIMAL(38,0)) * ry")).as("syy"))
      .withColumn("num", expr("m * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("denx", expr("m * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("deny", expr("m * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
      .select(col("m").as("n_pairs"),
        when(col("m") < 2 || col("denx") <= 0 || col("deny") <= 0, lit(0L))
          .otherwise(expr(
            "CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END * " +
              "((CAST(1000000 AS DECIMAL(38,0)) * abs(num) " +
              "DIV greatest(denx, deny)) * abs(num) " +
              "DIV least(denx, deny)) AS BIGINT)"))
          .as("rho2_signed_ppm"))
  }

  /** One column's expectations in a data contract: null-rate ceiling
    * (ppm) and an inclusive [lo, hi] value range. */
  final case class ColumnContract(
      column: String, maxNullPpm: Long, lo: Long, hi: Long)

  /** Data-contract check — the dbt-test / expectations-style release
    * gate: per contracted column, observed row/null counts, exact
    * null-rate ppm, observed value span, and the two violation
    * verdicts (null-rate over ceiling; any value outside [lo, hi]).
    * An all-NULL column reports `range_violation = false` — absence
    * is the null-rate contract's finding, not the range's.
    *
    * Scale shape: ONE pass — a single map-side-combinable aggregate
    * computes every contracted column's counts/extrema together; the
    * per-contract rows are then projections of that pinned ONE-ROW
    * frame (pinned precisely so k contract rows cannot re-run the
    * corpus aggregate k times). */
  def contractCheck(df: DataFrame, contracts: Seq[ColumnContract]): DataFrame = {
    require(contracts.nonEmpty, "contract check needs at least one column")
    val aggs = contracts.flatMap { c =>
      Seq(
        count(when(col(c.column).isNull, 1)).as(s"${c.column}__nulls"),
        min(col(c.column)).cast("long").as(s"${c.column}__lo"),
        max(col(c.column)).cast("long").as(s"${c.column}__hi"))
    }
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*).localCheckpoint(true)
    contracts.map { c =>
      // empty-frame guard: ANSI DIV by zero would throw; an empty
      // table trivially satisfies every null-rate ceiling
      val nullPpm = expr(s"CASE WHEN n_rows = 0 THEN 0 " +
        s"ELSE 1000000 * ${c.column}__nulls DIV n_rows END")
      one.select(
        lit(c.column).as("column"),
        col("n_rows"),
        col(s"${c.column}__nulls").as("n_null"),
        nullPpm.as("null_ppm"),
        col(s"${c.column}__lo").as("observed_lo"),
        col(s"${c.column}__hi").as("observed_hi"),
        (nullPpm > c.maxNullPpm).as("null_violation"),
        coalesce(
          col(s"${c.column}__lo") < c.lo || col(s"${c.column}__hi") > c.hi,
          lit(false)).as("range_violation"))
    }.reduce(_.unionByName(_))
  }

  /** k-anonymity audit over a set of quasi-identifier columns
    * (Sweeney 2002): every combination observed in FEWER than `k`
    * rows — the groups whose members a release would make
    * re-identifiable — with its observed count. The companion row to
    * [[refIntegrity]] in the release-gate family: referential health
    * checks the joins, this checks the privacy floor. NULL is a legal
    * quasi-identifier value and groups like any other (dropping
    * NULL-keyed rows would HIDE under-k groups).
    *
    * Scale shape: one map-side-combinable groupBy on the
    * quasi-identifier tuple; the under-k filter rides the aggregate.
    * Output is bounded by the identifier domain, never the corpus. */
  def kAnonymity(df: DataFrame, keys: Seq[String], k: Long): DataFrame = {
    require(keys.nonEmpty, "k-anonymity needs at least one quasi-identifier")
    require(k >= 2, s"k $k must be at least 2 (k=1 flags nothing)")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") < k)
  }

  /** l-diversity audit — [[kAnonymity]]'s sharper sibling
    * (Machanavajjhala et al. 2006): a group can be large enough to
    * pass k-anonymity and still leak, if everyone in it SHARES the
    * sensitive value (the homogeneity attack — "all 12 patients in
    * this ZIP/age cell have the same diagnosis"). Flags every
    * quasi-identifier combination whose sensitive column carries
    * fewer than `l` DISTINCT non-NULL values, with the group size
    * alongside (a large low-diversity group is the worst finding).
    * NULL quasi-identifier values group like any other (the
    * [[kAnonymity]] rationale); NULL sensitive values do not count
    * toward diversity — an all-NULL group has 0 distinct and flags,
    * the conservative reading on both engines (count(DISTINCT)
    * ignores NULLs identically).
    *
    * Scale shape: one groupBy on the identifier tuple with the
    * standard two-phase distinct aggregate (map-side partial on
    * (tuple, sensitive) first); output bounded by the identifier
    * domain. */
  def lDiversity(
      df: DataFrame, keys: Seq[String], sensitive: String,
      l: Long): DataFrame = {
    require(keys.nonEmpty, "l-diversity needs at least one quasi-identifier")
    require(l >= 2, s"l $l must be at least 2 (l=1 flags only all-NULL)")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitive)).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
  }

  /** Quantile normalization of an integer signal across sources
    * (Bolstad et al. 2003's microarray method, the batch-effect
    * correction a multi-source corpus needs when per-source
    * distributions must not leak into downstream thresholds): each
    * source's value at upper-cdf q is replaced by the CORPUS value at
    * the same quantile — the smallest corpus value whose cumulative
    * count reaches `⌈cum_s·N / n_s⌉` — so every source maps onto one
    * shared reference distribution exactly. Output is one row per
    * (source, distinct value) with the replacement value; ties within
    * a source share their rank block's top (upper cdf), the standard
    * discrete convention.
    *
    * Scale shape: both histograms are map-side-combinable and
    * value-domain-bounded; the rank resolution is ONE ordered window
    * over the union of corpus boundaries and source targets (corpus
    * rows sort after equal-rank targets, so `first ignoreNulls`
    * looking forward picks the ≥-rank boundary) — no non-equi join,
    * no per-target scan. The window is unpartitioned over the
    * domain-bounded frame, the X139 convention. Headroom:
    * `cum_s·N ≤ N²` runs in DECIMAL(38,0). The value column is cast
    * to long (integer-signal contract, as everywhere in this
    * family). */
  def quantileNormalize(
      df: DataFrame, value: String, group: String): DataFrame = {
    val d = df.filter(col(value).isNotNull)
      .select(col(group).cast("string").as("__g"),
        col(value).cast("long").as("__v"))
    val corpusHist = d.groupBy(col("__v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = d.agg(count(lit(1)).as("n_total"))
    val targets = d.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("cnt_s"))
      .withColumn("cum_s", sum(col("cnt_s")).over(
        Window.partitionBy(col("__g")).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_s", sum(col("cnt_s")).over(
        Window.partitionBy(col("__g"))))
      .crossJoin(broadcast(tot))
      .withColumn("rk", expr("CAST((CAST(cum_s AS DECIMAL(38,0)) * " +
        "n_total + n_s - 1) DIV n_s AS BIGINT)"))
    val merged = targets
      .select(col("rk"), lit(0).as("tag"), col("__g"), col("__v"),
        col("cnt_s"), lit(null).cast("long").as("corpus_value"))
      .unionByName(corpusHist
        .select(col("cum").as("rk"), lit(1).as("tag"),
          lit(null).cast("string").as("__g"),
          lit(null).cast("long").as("__v"),
          lit(null).cast("long").as("cnt_s"),
          col("__v").as("corpus_value")))
    val forward = Window.orderBy(col("rk"), col("tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    merged
      .withColumn("normalized_value",
        first(col("corpus_value"), ignoreNulls = true).over(forward))
      .filter(col("tag") === 0)
      .select(col("__g").as(group), col("__v").as(value),
        col("cnt_s").as("n_docs"), col("normalized_value"))
  }

  /** Empirical-Bayes shrunk rate per group — the ranking-stable form
    * of a per-source pass rate: a 3-document source at raw rate 100%
    * must not outrank a 10,000-document source at 98%, so each
    * group's rate is pulled toward the corpus prior with
    * `priorWeight` pseudo-observations (beta-binomial posterior
    * mean): `shrunk_ppm = 10⁶·(x·N + m·X) div (N·(n + m))` where
    * (x, n) are the group's flagged/total counts and (X, N) the
    * corpus's — exact integer, the rational prior X/N never appears.
    * The raw rate rides alongside so the shrinkage is auditable.
    *
    * Scale shape: one map-side-combinable groupBy plus a broadcast
    * one-row corpus total; cross-products in DECIMAL(38,0) ↔
    * HUGEINT (x·N ≤ N², exact to N ≈ 10¹⁹ digits-wise — far past any
    * corpus). NULL flags are excluded (a row that can't be judged is
    * not evidence either way); NULL groups keep their group. */
  def shrunkRate(
      df: DataFrame, flag: String, group: String,
      priorWeight: Long = 100L): DataFrame = {
    require(priorWeight >= 1, s"priorWeight $priorWeight must be >= 1")
    val d = df.filter(col(flag).isNotNull)
      .select(col(group), col(flag).cast("long").as("__f"))
    val tot = d.agg(count(lit(1)).as("n_total"), sum(col("__f")).as("x_total"))
    d.groupBy(col(group))
      .agg(count(lit(1)).as("n"), sum(col("__f")).as("x"))
      .crossJoin(broadcast(tot))
      .select(col(group), col("n"), col("x"),
        expr("1000000 * x DIV n").as("raw_ppm"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * " +
          s"(x * CAST(n_total AS DECIMAL(38,0)) + $priorWeight * x_total) " +
          s"DIV (CAST(n_total AS DECIMAL(38,0)) * (n + $priorWeight)) " +
          "AS BIGINT)").as("shrunk_ppm"))
  }

  /** Order-backlog curve — the operational time series behind X141's
    * lag percentiles: per day, lineitems entering the backlog (their
    * order's order date) vs leaving it (ship date), cumulatives, and
    * the OPEN count — the "how deep is the fulfilment queue and is it
    * draining" chart. The terminal open count is 0 exactly when every
    * ordered item shipped inside the window (spec-pinned), and a
    * rising open curve is the backlog-building alarm. Day boundaries
    * floor-divide the epoch (the X160 convention); output day is the
    * integer epoch day, never an engine date type.
    *
    * Scale shape: one fact-to-fact equi-join on `l_orderkey` (the
    * X141 shape), both sides collapsing map-side to day counts; the
    * full-outer day merge and the two cumulative windows run over the
    * day domain. */
  def backlogCurve(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def dateDay(c: String): Column =
      day(s"unix_micros(CAST($c AS TIMESTAMP))")
    val ordered = lineitem.select(col("l_orderkey"))
      .join(orders.filter(col("o_orderdate").isNotNull)
        .select(col("o_orderkey").as("l_orderkey"),
          dateDay("o_orderdate").as("day")), Seq("l_orderkey"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_ordered"))
    val shipped = lineitem.filter(col("l_shipdate").isNotNull)
      .select(dateDay("l_shipdate").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_shipped"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ordered.join(shipped, Seq("day"), "full")
      .select(col("day"),
        coalesce(col("n_ordered"), lit(0L)).as("n_ordered"),
        coalesce(col("n_shipped"), lit(0L)).as("n_shipped"))
      .withColumn("cum_ordered", sum(col("n_ordered")).over(w))
      .withColumn("cum_shipped", sum(col("n_shipped")).over(w))
      .withColumn("open_items", col("cum_ordered") - col("cum_shipped"))
  }

  /** Cohort LTV curve — the revenue companion of X88's retention
    * counts: customers cohorted by their FIRST order's epoch week
    * (integer week = epoch-day div 7, the X145 no-calendar-function
    * convention), each (cohort, age) cell reporting orders, revenue
    * cents (the shared `floor(p·100 + 0.5)` IEEE expression), the
    * running cumulative, and cumulative revenue PER COHORT MEMBER
    * (`ltv_cents = cum div cohort_size`) — the curve a payback-period
    * decision reads. Revenue stays integer cents end to end; no
    * float ever aggregates.
    *
    * Input contract: NON-NEGATIVE order totals. The per-member
    * division is an integral `DIV`; it truncates like the oracle's
    * `//` (DuckDB 1.0.0), but a floored division would differ on a
    * negative operand — a
    * refunds ledger (negative totals that could drive a cumulative
    * negative) must be sign-decomposed first (the X142 convention)
    * before reusing this curve.
    *
    * Scale shape: the orders fold collapses map-side to per-customer
    * firsts and (cohort, age) cells; cohort sizes broadcast; the one
    * cumulative window partitions by cohort over the age domain. */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val o = orders
      .filter(col("o_orderdate").isNotNull && col("o_custkey").isNotNull)
      .select(col("o_custkey"),
        expr(epochFloorDiv("unix_micros(CAST(o_orderdate AS TIMESTAMP))",
          604800000000L)).as("week"),
        expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
    val cohorts = o.groupBy(col("o_custkey"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    o.join(cohorts, Seq("o_custkey"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_cents"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(
        Window.partitionBy(col("cohort_week")).orderBy(col("age_weeks"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ltv_cents", expr("cum_revenue_cents DIV cohort_size"))
  }

  /** Class-balance report + inverse-frequency training weights (the
    * `n_total / (k·n_c)` "balanced" weighting sklearn standardized;
    * King & Zeng 2001 is the statistics ancestor): per label, its
    * count and exact weight in ppm — the first thing an imbalanced
    * fine-tuning run reaches for, and the audit row that shows WHY a
    * rare class dominates the loss after reweighting. The weights
    * satisfy `Σ n_c·w_c ≈ N·10⁶` by construction (each term floors
    * once). NULL labels are excluded — an unlabeled row belongs to
    * no class and must not dilute any weight.
    *
    * Scale shape: one map-side-combinable groupBy + a broadcast
    * one-row total; output bounded by the label domain. */
  def classWeights(df: DataFrame, label: String): DataFrame = {
    val d = df.filter(col(label).isNotNull)
    val tot = d.agg(count(lit(1)).as("n_total"),
      countDistinct(col(label)).as("n_classes"))
    d.groupBy(col(label)).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col(label), col("n"), col("n_total"), col("n_classes"),
        expr("1000000 * n_total DIV (n_classes * n)").as("weight_ppm"))
  }

  /** CUSUM changepoint detection over per-type daily counts (Page
    * 1954; the single-split step of binary segmentation): the day
    * where the cumulative sum of mean-deviations peaks in magnitude
    * is the maximum-likelihood single level-shift point. All integer:
    * the per-day deviation is SCALED by n (`d_i = n·c_i − T`, so the
    * rational mean never appears), the running sum S_i is windowed,
    * and the changepoint is the (|S| desc, day asc)-first day — a
    * full total order, tie → earliest. `magnitude_ppm =
    * 10⁶·|S_cp| div (n·T)` normalizes to the series' own mass
    * (0 = flat, larger = sharper shift); a zero-total type is
    * guarded to 0. The companion to [[dailyAnomaly]]/
    * [[robustDailyAnomaly]]: those flag single outlier days, this
    * finds the REGIME boundary — a feed whose volume stepped to a
    * new level (extractor change, source onboarded, outage begun)
    * has no outlier day at all, just two plateaus.
    *
    * Scale shape: the corpus collapses map-side to (type, day); the
    * per-type total rides a partition window, the running sum an
    * ordered window, and the argmax a rank-limit window — all over
    * the types × days frame, never the corpus. Headroom: |S| ≤ n·T
    * needs n·T inside BIGINT — days × corpus events, fine to ~10¹⁴
    * events per type. */
  def changepointCusum(events: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val ordered = byType.orderBy(col("day"))
    val cusum = dailyCounts(events).withColumnRenamed("n", "c")
      .withColumn("n", sum(lit(1L)).over(byType))
      .withColumn("t", sum(col("c")).over(byType))
      .withColumn("s", sum(col("n") * col("c") - col("t")).over(
        ordered.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(
        byType.orderBy(abs(col("s")).desc, col("day"))))
    cusum.filter(col("rn") === 1)
      .select(col("event_type"), col("n").as("n_days"),
        col("t").as("total_events"), col("day").as("cp_day"),
        abs(col("s")).as("cusum_abs"),
        when(col("t") === 0, lit(0L))
          .otherwise(expr("1000000 * abs(s) DIV (n * t)"))
          .as("magnitude_ppm"))
  }

  private def globalNtile(
      df: DataFrame, value: String, descOrder: Boolean, id: String,
      bands: Int, out: String): DataFrame = {
    val ord = if (descOrder) col(value).desc else col(value).asc
    val counts = df.groupBy(col(value)).agg(count(lit(1)).as("value_cnt"))
    val tot = counts.agg(sum(col("value_cnt")).as("n_tot"))
    val hist = counts
      .withColumn("prefix_cnt",
        coalesce(sum(col("value_cnt")).over(
          Window.orderBy(ord)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col(value), col("n_tot"), col("prefix_cnt"))
    val withinValue = Window.partitionBy(col(value)).orderBy(col(id).asc)
    df.join(hist, Seq(value))
      .withColumn("rnk", col("prefix_cnt") + row_number().over(withinValue))
      .withColumn("q", expr(s"n_tot div $bands"))
      .withColumn("r", col("n_tot") % bands)
      .withColumn(out,
        when(col("rnk") <= col("r") * (col("q") + 1),
          expr("(rnk - 1) div (q + 1) + 1"))
          .otherwise(expr("r + (rnk - r * (q + 1) - 1) div q + 1")))
      .drop("n_tot", "prefix_cnt", "rnk", "q", "r")
  }

  /** RFM segmentation over an order stream — the classic customer-
    * value report (Recency / Frequency / Monetary quintiles): per
    * customer, days since last order relative to the corpus max day
    * (integer epoch-day arithmetic), order count, and lifetime spend
    * in exact integer cents (`floor(price·100 + 0.5)` — the SAME
    * IEEE-double expression on both engines, so the half-cent
    * boundary cannot flake the way a round-mode difference would).
    * Each dimension scores 1..`bands` with `bands` = best (most
    * recent / most frequent / highest spend): recency ranks DESC so
    * the smallest day-gap lands in the top band, frequency and
    * monetary rank ASC. `segment` is the concatenated "555"-style
    * label curation rules key on.
    *
    * Bands come from the decomposed-histogram [[globalNtile]] —
    * exact-integer closed-form ntile, cross-proved against the DuckDB
    * NATIVE ntile over the identical (value, c_custkey) total order:
    * two independent constructions must agree rank-for-rank.
    *
    * Scale shape: the per-customer fold is ONE map-side-combinable
    * groupBy on `o_custkey`; the corpus max-day is a one-row
    * broadcast; each score pass joins the customer frame to its own
    * value histogram (AQE broadcasts the measured-small side) and
    * runs its row_number parallel across values. Monetary cents are
    * near-unique per customer, so its histogram prefix task is
    * customer-bounded — the documented [[globalNtile]] caveat. */
  def rfmSegments(orders: DataFrame, bands: Int = 5): DataFrame = {
    require(bands >= 1, s"band count $bands must be positive")
    val o = orders.filter(col("o_orderdate").isNotNull).select(
      col("o_custkey"),
      day("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("day"),
      expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
    val maxDay = o.agg(max(col("day")).as("max_day"))
    // deliberately LAZY: a persist here was tried and REVERTED — the
    // persisted frame loses its size stats, AQE stops broadcasting
    // the measured-small ntile histograms, every join degrades to
    // SortMergeJoin and the sf0.1 median went 1.1 s → 6.6 s. The
    // lazy plan re-derives the orders fold per ntile leg (6 scans of
    // the small aggregate lineage); at true corpus scale the caller
    // materializes the per-customer frame ONCE upstream and feeds it
    // in — the operator keeps the optimizer-friendly shape.
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary_cents"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency_days", col("max_day") - col("last_day"))
      .withColumnRenamed("o_custkey", "c_custkey")
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"))
    val scored = globalNtile(
      globalNtile(
        globalNtile(rfm, "recency_days", descOrder = true, "c_custkey",
          bands, "r_score"),
        "frequency", descOrder = false, "c_custkey", bands, "f_score"),
      "monetary_cents", descOrder = false, "c_custkey", bands, "m_score")
    scored.select(col("c_custkey"), col("recency_days"), col("frequency"),
      col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
      concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
  }

  /** Chi-squared test of independence between two categorical columns
    * (Pearson 1900) + Cramér's V² effect size — the categorical
    * companion to [[ksDrift]]'s numeric drift and the association
    * question behind every "does segment predict nation" audit. One
    * output row: n, category counts, degrees of freedom, and
    * `χ²·10⁶ = Σ 10⁶·(O·n − r·c)² div (n·r·c)` summed over the FULL
    * R×C grid — zero cells included (omitting them understates the
    * statistic; the grid is rebuilt from the marginals, so an
    * unobserved combination still contributes its expected mass).
    * Per-cell integral division makes the sum a deterministic
    * recurrence both engines evaluate identically (the X111 PageRank
    * convention). `V²_ppm = χ²_ppm div (n·min(R−1, C−1))`; a
    * single-category dimension yields χ² = 0 and dof = 0 (V² guarded
    * to 0). NULL is a LEGAL category value and groups like any other
    * (the X154 lesson — dropping NULL-keyed rows would hide their
    * association), so the grid join is null-safe.
    *
    * Scale shape: one map-side-combinable groupBy to the cell frame
    * (bounded by the category domains, never the corpus), pinned once
    * so marginals/totals/grid are derived without re-scanning; the
    * cross join is R×C — marginal-domain-bounded, the one place a
    * cross join is the RIGHT shape. Exactness headroom:
    * `10⁶·(O·n − r·c)²` must fit DECIMAL(38,0) and `|O·n − r·c|` is
    * bounded by n²/4 → exact to n ≈ 10⁸ rows; beyond that, test a
    * sample (the X156 discipline). */
  def chiSquaredIndependence(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("o"))
      .localCheckpoint(true)
    // grid keys are RENAMED (fresh attribute ids): the marginals are
    // derived from `cells`, so joining them straight back on the
    // original column would be a self-join ambiguity
    val rowTot = cells.groupBy(col(a)).agg(sum(col("o")).as("r"))
      .select(col(a).as("__ga"), col("r"))
    val colTot = cells.groupBy(col(b)).agg(sum(col("o")).as("c"))
      .select(col(b).as("__gb"), col("c"))
    val tot = cells.agg(sum(col("o")).as("n")).crossJoin(
        rowTot.agg(count(lit(1)).as("n_a")))
      .crossJoin(colTot.agg(count(lit(1)).as("n_b")))
    val grid = rowTot.crossJoin(colTot)
    val obs = grid.join(cells,
        col("__ga") <=> col(a) && col("__gb") <=> col(b), "left")
      .select(col("r"), col("c"), coalesce(col("o"), lit(0L)).as("o"))
    obs.crossJoin(tot)
      .select(col("n"), col("n_a"), col("n_b"), expr(
        "CAST(1000000 AS DECIMAL(38,0)) * " +
          "(o * CAST(n AS DECIMAL(38,0)) - CAST(r AS DECIMAL(38,0)) * c) * " +
          "(o * CAST(n AS DECIMAL(38,0)) - CAST(r AS DECIMAL(38,0)) * c) " +
          "DIV (CAST(n AS DECIMAL(38,0)) * r * c)").as("term"))
      .groupBy(col("n"), col("n_a"), col("n_b"))
      .agg(sum(col("term")).as("chi2dec"))
      .select(col("n"), col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"),
        col("chi2dec").cast("long").as("chi2_ppm"),
        when(col("n_a") < 2 || col("n_b") < 2 || col("n") === 0, lit(0L))
          .otherwise(expr(
            "CAST(chi2dec DIV (CAST(n AS DECIMAL(38,0)) * " +
              "least(n_a - 1, n_b - 1)) AS BIGINT)"))
          .as("v2_ppm"))
  }

  /** Period-over-period contribution decomposition — the "what moved
    * the topline" drill-down every metrics review starts with: the
    * time range splits in half (the data-derived
    * `min + (max−min) div 2` idiom — non-negative divided operand,
    * truncate ≡ floor), and per segment the report carries both
    * periods' row counts and exact integer cents (the shared
    * `floor(v·100+0.5)` IEEE expression) plus the segment's delta.
    * The decomposition identity — segment deltas SUM to the topline
    * delta exactly, no residual — is what floats can't promise and
    * integers do (spec-pinned); a segment active in only one period
    * still reports (its other-period columns are zero, not absent).
    *
    * Scale shape: ONE map-side-combinable groupBy over the fact scan
    * with conditional aggregates — the two periods are CASE branches
    * of one pass, never two scans; the one-row split frame
    * cross-joins broadcast. */
  def periodContribution(
      df: DataFrame, tsCol: String, segCol: String,
      valueCol: String): DataFrame = {
    val rows = df.filter(col(tsCol).isNotNull)
      .select(col(segCol).as("segment"),
        unix_micros(col(tsCol).cast("timestamp")).as("us"),
        expr(s"CAST(floor($valueCol * 100 + 0.5) AS BIGINT)").as("cents"))
    val split = rows.agg(
      expr("min(us) + (max(us) - min(us)) DIV 2").as("split_us"))
    rows.crossJoin(broadcast(split))
      .groupBy(col("segment"))
      .agg(
        sum(when(col("us") <= col("split_us"), 1L).otherwise(0L)).as("n_p1"),
        sum(when(col("us") > col("split_us"), 1L).otherwise(0L)).as("n_p2"),
        coalesce(sum(when(col("us") <= col("split_us"), col("cents"))),
          lit(0L)).as("cents_p1"),
        coalesce(sum(when(col("us") > col("split_us"), col("cents"))),
          lit(0L)).as("cents_p2"))
      .withColumn("delta_cents", col("cents_p2") - col("cents_p1"))
  }

  /** Fleiss' kappa (Fleiss 1971) — [[raterAgreement]]'s m-rater
    * generalization: chance-corrected agreement when EVERY item is
    * rated by the same m raters (label-quality audits with an
    * ensemble of heuristic judges, the multi-annotator QC gate). All
    * arithmetic exact-integer ppm: per-item agreement mass is
    * `Σ_j n_ij² − m` (non-negative since Σ_j n_ij = m), so
    * `P̄_ppm = 10⁶·(Σ_i Σ_j n_ij² − n·m) div (n·m·(m−1))`; chance
    * agreement needs no per-category floor sum because
    * `Σ_j p_j² = (Σ_j c_j²)/(n·m)²` is ONE division —
    * `P̄e_ppm = 10⁶·Σ_j c_j² div (n·m)²` with the squared category
    * totals in DECIMAL(38,0) ↔ DuckDB HUGEINT (`c_j ≤ n·m` passes
    * 2⁶³ at n ≈ 10⁹·m). κ is sign-decomposed (the x128 convention)
    * with the chance-perfect (`P̄e ≥ 10⁶`) and empty-input guards of
    * [[raterAgreement]]. Items with ANY missing rating are dropped —
    * kappa's per-item total must equal m (the subset-rated variant
    * is a different statistic).
    *
    * Scale shape: one groupBy to the (item, rating) cell frame, one
    * per-item aggregate, one category-bounded aggregate; the two
    * one-row frames cross-join at the end. Nothing shuffles wider
    * than the corpus's (item, rating) pairs. */
  def fleissKappa(df: DataFrame, item: Column, raters: Seq[Column]): DataFrame = {
    val m = raters.size
    require(m >= 2, s"Fleiss' kappa needs at least two raters, got $m")
    val rated = df
      .select(item.as("__item") +: raters.zipWithIndex.map {
        case (r, i) => r.cast("int").as(s"__r$i") }: _*)
      .filter(raters.indices.map(i => col(s"__r$i").isNotNull).reduce(_ && _))
    val nij = rated
      .select(col("__item"),
        explode(array(raters.indices.map(i => col(s"__r$i")): _*)).as("rating"))
      .groupBy(col("__item"), col("rating")).agg(count(lit(1)).as("nij"))
    val perItem = nij.groupBy(col("__item"))
      .agg(sum(col("nij") * col("nij")).as("sq"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("sq")), lit(0L)).as("sqsum"))
    val cats = nij.groupBy(col("rating")).agg(sum(col("nij")).as("c_j"))
      .agg(coalesce(sum(expr("CAST(c_j AS DECIMAL(38,0)) * c_j")),
        lit(java.math.BigDecimal.ZERO)).as("csq"))
    perItem.crossJoin(cats)
      .withColumn("po_ppm", expr(
        s"CASE WHEN n = 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE 1000000 * (sqsum - n * $m) DIV (n * $m * ${m - 1}) END"))
      .withColumn("pe_ppm", expr(
        s"CASE WHEN n = 0 THEN CAST(0 AS BIGINT) ELSE " +
          s"CAST(CAST(1000000 AS DECIMAL(38,0)) * csq " +
          s"DIV (CAST(n AS DECIMAL(38,0)) * $m * n * $m) AS BIGINT) END"))
      .select(col("n").as("n_items"), lit(m).as("m_raters"),
        col("po_ppm"), col("pe_ppm"),
        when(col("pe_ppm") >= 1000000L, lit(0L)).otherwise(
          when(col("po_ppm") >= col("pe_ppm"),
            expr("1000000 * (po_ppm - pe_ppm) DIV (1000000 - pe_ppm)"))
            .otherwise(-expr(
              "1000000 * (pe_ppm - po_ppm) DIV (1000000 - pe_ppm)")))
          .as("kappa_ppm"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * leg of the k-anonymity / l-diversity release-gate trio: per
    * quasi-identifier equivalence class, the TOTAL VARIATION distance
    * (categorical EMD under unit ground distance) between the class's
    * sensitive-value distribution and the corpus-global one, in exact
    * ppm — `tv = ½·Σ_j |p_gj − p_j|` cross-multiplied to
    * `10⁶·Σ_j |c_gj·N − c_j·n_g| div (2·n_g·N)` so ONE integral
    * division ends the computation (deviation terms in DECIMAL(38,0)
    * ↔ DuckDB HUGEINT; `c·N ≤ N²` passes 2⁶³ at N ≈ 3·10⁹). An
    * l-diverse class can still leak when its sensitive distribution
    * is badly skewed toward one value — tv is exactly that skew.
    * Categories ABSENT from a class still contribute `c_j·n_g` (the
    * chi2 full-grid lesson: omitting zero cells understates the
    * distance), and NULL is a legal value on both axes (null-safe
    * grid join).
    *
    * Scale shape: one groupBy to the (class × sensitive) cell frame
    * — domain-bounded, never the corpus — then the class-by-category
    * grid cross join (the one place a cross join is the right
    * shape), one aggregate back to classes. */
  def tCloseness(
      df: DataFrame, quasi: Seq[String], sensitive: String,
      tPpm: Long): DataFrame = {
    require(quasi.nonEmpty, "t-closeness needs at least one quasi-identifier")
    require(tPpm >= 0, s"threshold $tPpm must be non-negative")
    val cells = df.groupBy((quasi :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("o")).localCheckpoint(true)
    val groups = cells.groupBy(quasi.map(col): _*).agg(sum(col("o")).as("n_g"))
      .select(quasi.map(q => col(q).as(s"__g_$q")) :+ col("n_g"): _*)
    val cats = cells.groupBy(col(sensitive)).agg(sum(col("o")).as("c_j"))
      .select(col(sensitive).as("__s"), col("c_j"))
    val tot = cells.agg(sum(col("o")).as("n_total"))
    val joined = groups.crossJoin(cats)
      .join(cells,
        quasi.map(q => col(s"__g_$q") <=> col(q)).reduce(_ && _) &&
          (col("__s") <=> col(sensitive)), "left")
      .crossJoin(broadcast(tot))
      .select(quasi.map(q => col(s"__g_$q")) ++ Seq(
        col("n_g"), col("n_total"), expr(
          "abs(coalesce(o, CAST(0 AS BIGINT)) * CAST(n_total AS DECIMAL(38,0)) - " +
            "CAST(c_j AS DECIMAL(38,0)) * n_g)").as("dev")): _*)
    joined
      .groupBy(quasi.map(q => col(s"__g_$q")) ++
        Seq(col("n_g"), col("n_total")): _*)
      .agg(sum(col("dev")).as("devsum"))
      .select(quasi.map(q => col(s"__g_$q").as(q)) ++ Seq(
        col("n_g"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * devsum " +
          "DIV (2 * CAST(n_g AS DECIMAL(38,0)) * n_total) AS BIGINT)")
          .as("tv_ppm")): _*)
      .withColumn("violates", col("tv_ppm") > tPpm)
  }

  /** Robust daily anomaly flags — [[dailyAnomaly]]'s mean/σ gate with
    * MEDIAN/MAD in its place (Hampel's robust identifier): a burst day
    * inflates the very σ that is supposed to flag it, so a 3σ gate
    * can miss a 10× spike on a feed with few days; the median and the
    * median absolute deviation are unmoved by the outlier itself
    * (breakdown point ½ vs 0). Flags `|x − med| > k·MAD`, all exact
    * integers; a zero-MAD type (over half its days identical)
    * degenerates to "any deviation flags", under an explicit branch —
    * the behavior Hampel's rule implies and the one a constant-rate
    * feed wants.
    *
    * Scale shape: the corpus collapses map-side to (type, day)
    * counts; median and MAD each come from the X139 rank carve over a
    * per-type HISTOGRAM (bounded by types × distinct counts, never by
    * days), and both per-type frames broadcast back onto the daily
    * frame. */
  def robustDailyAnomaly(events: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, s"k $k must be positive")
    // one row per type; the min keeps `out` nullable, the schema the
    // report has always had
    def medianOf(df: DataFrame, value: String, out: String): DataFrame =
      percentileDisc(
        df.groupBy(col("event_type"), col(value)).agg(count(lit(1)).as("h")),
        Seq("event_type"), value, "h", Seq(50))
        .groupBy(col("event_type")).agg(min(col(value)).as(out))
    // both intermediates are types × days small AND multi-consumer
    // (daily feeds the median carve and the deviation frame; dev
    // feeds the MAD carve and the output) — pin them so the corpus
    // is scanned exactly once, and so the carve-derived join-backs
    // are against a settled frame, not a recomputed self-join
    val daily = dailyCounts(events).withColumnRenamed("n", "c")
      .localCheckpoint(true)
    val dev = daily
      .join(broadcast(medianOf(daily, "c", "med")), Seq("event_type"))
      .withColumn("abs_dev", abs(col("c") - col("med")))
      .localCheckpoint(true)
    dev.join(broadcast(medianOf(dev, "abs_dev", "mad")), Seq("event_type"))
      .select(col("event_type"), col("day"), col("c").as("n_events"),
        col("med"), col("mad"), col("abs_dev"),
        ((col("mad") > 0 && col("abs_dev") > lit(k.toLong) * col("mad")) ||
          (col("mad") === 0 && col("abs_dev") > 0)).as("is_anomaly"))
  }

  /** Seasonal-naive forecast backtest — "does this feed have weekly
    * structure worth modeling": per event type, the weighted absolute
    * percentage error (WAPE, ppm) of the two cheapest forecasts —
    * persistence (`count(d−shortLag)`) and seasonal-naive
    * (`count(d−longLag)`, Hyndman & Athanasopoulos's benchmark
    * methods) — over the SAME evaluation days, so
    * `wape_long < wape_short` is direct evidence of weekly
    * seasonality. Evaluated on the DENSE per-type day grid
    * (min..max): zero-event days are real observations a lag must
    * predict and be predicted from — lagging over only-present days
    * would silently skip them and shift every horizon. The common
    * evaluation window starts `longLag` days in, so both errors score
    * identical rows.
    *
    * Scale shape: the corpus collapses map-side to (type, day)
    * counts; the grid explode and both lag windows run over the
    * types × days domain, never the corpus. */
  def seasonalNaiveBacktest(
      events: DataFrame, shortLag: Int = 1, longLag: Int = 7): DataFrame = {
    require(shortLag >= 1 && longLag > shortLag,
      s"lags ($shortLag, $longLag) must be positive and ordered")
    val daily = dailyCounts(events).withColumnRenamed("n", "cnt")
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    dense
      .withColumn("p_short", lag(col("cnt"), shortLag).over(w))
      .withColumn("p_long", lag(col("cnt"), longLag).over(w))
      .filter(col("p_long").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("cnt")).as("sum_actual"),
        sum(abs(col("cnt") - col("p_short"))).as("abs_err_short"),
        sum(abs(col("cnt") - col("p_long"))).as("abs_err_long"))
      .select(col("event_type"), col("n_days"), col("sum_actual"),
        col("abs_err_short"), col("abs_err_long"),
        when(col("sum_actual") === 0, lit(0L))
          .otherwise(expr("1000000 * abs_err_short DIV sum_actual"))
          .as("wape_short_ppm"),
        when(col("sum_actual") === 0, lit(0L))
          .otherwise(expr("1000000 * abs_err_long DIV sum_actual"))
          .as("wape_long_ppm"))
  }

  /** Mann-Whitney U rank-sum test between two samples of one integer
    * signal (Mann & Whitney 1947) — the distribution-free "is group A
    * stochastically larger" companion to [[ksDrift]] (KS asks "do the
    * shapes differ", U asks "which side wins a random pairing").
    * Inputs are the value column and a boolean group column; output
    * is one row with both sample sizes, the DOUBLED U statistics
    * (`U2_A = R2_A − n_a(n_a+1)` where R2 is the sum of DOUBLED
    * tie-average ranks — the X156 integer-rank convention, so ties
    * never produce a fractional half), and the common-language effect
    * size `cles_ppm = 10⁶·U2_A div (2·n_a·n_b)` — the exact
    * probability a random A-B pair orders A higher (ties half). The
    * identity `U2_A + U2_B = 2·n_a·n_b` holds exactly under ties and
    * is spec-pinned.
    *
    * Scale shape: the X139 histogram decomposition — per-value counts
    * split by group (map-side-combinable, value-domain-bounded), one
    * prefix window over distinct values, rank sums as weighted sums;
    * the corpus never sorts. Headroom: R2 ≤ 2n² → BIGINT-exact to
    * n ≈ 2·10⁹; moments cross in DECIMAL(38,0) ↔ HUGEINT. */
  def mannWhitneyU(df: DataFrame, value: String, isA: String): DataFrame = {
    val hist = df.filter(col(value).isNotNull && col(isA).isNotNull)
      .groupBy(col(value))
      .agg(count(when(col(isA), 1)).as("cnt_a"),
        count(when(!col(isA), 1)).as("cnt_b"))
      .withColumn("cnt", col("cnt_a") + col("cnt_b"))
      .withColumn("prefix", coalesce(sum(col("cnt")).over(
        Window.orderBy(col(value))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("r2", lit(2) * col("prefix") + col("cnt") + 1)
    hist.agg(
        sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"),
        sum(expr("CAST(cnt_a AS DECIMAL(38,0)) * r2")).as("r2a"),
        sum(expr("CAST(cnt_b AS DECIMAL(38,0)) * r2")).as("r2b"))
      .select(
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        expr("CAST(coalesce(r2a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1), 0) " +
          "AS BIGINT)").as("u2_a"),
        expr("CAST(coalesce(r2b - CAST(n_b AS DECIMAL(38,0)) * (n_b + 1), 0) " +
          "AS BIGINT)").as("u2_b"))
      .withColumn("cles_ppm",
        when(col("n_a") === 0 || col("n_b") === 0, lit(0L))
          .otherwise(expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * u2_a " +
            "DIV (CAST(2 AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)")))
  }

  /** Morton/Z-order interleave of two `bits`-bit non-negative integer
    * expressions as a SQL string — ONE generated source of truth (the
    * langMarkers discipline) whose text runs under BOTH engines:
    * Spark with `divOp = "DIV"`, DuckDB with `divOp = "//"`. Pure
    * integer arithmetic (`(x div 2^i) % 2 · 4^i` terms, bigint
    * promotion throughout), so the oracle can never drift from the
    * query's bit layout. */
  def zorderSql(x: String, y: String, bits: Int, divOp: String): String = {
    require(bits >= 1 && bits <= 31, s"bits $bits must be in [1, 31]")
    (0 until bits).map { i =>
      s"((($x) $divOp ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"((($y) $divOp ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")
  }

  /** Z-order layout audit — the MULTI-dimensional companion to the 1-D
    * partition-pruning (K2c) and bucketing (K2d) layout legs: Morton-
    * interleave two filter dimensions into one clustering key, cut the
    * key space into fixed z-ranges (quadtree regions), and report each
    * populated region's row count and exact bounding box. The box IS
    * the pruning contract: a range predicate on EITHER dimension skips
    * every region whose box misses it — where an x-sorted layout
    * leaves y unbounded per file, the z-regions bound both (the spec
    * pins the exact 32×32 tiles on a full grid and the interleave
    * against a bit-twiddled reference). Coordinates enter modulo
    * 2^bits (the caller picks dimensions that fit or hashes down).
    *
    * Scale shape: the z key is a codegen'd integer projection on the
    * scan; the audit is one map-side-combinable groupBy over populated
    * regions (≤ `buckets`). The WRITE path of this layout is
    * `repartitionByRange` on the same key — the curriculumExport
    * RangePartitioning story. */
  def zorderLayout(df: DataFrame, xCol: String, yCol: String,
      bits: Int = 16, buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets $buckets must be positive")
    val m = 1L << bits
    val zmax = 1L << (2 * bits)
    val width = (zmax + buckets - 1) / buckets
    df.select(col(xCol).as("x0"), col(yCol).as("y0"))
      .filter(col("x0").isNotNull && col("y0").isNotNull)
      // the folded coordinate IS the audited dimension — boxes are
      // reported in the same space the z key is built from
      .select(expr(s"x0 % $m").as("x"), expr(s"y0 % $m").as("y"))
      .select(col("x"), col("y"),
        expr(zorderSql("x", "y", bits, "DIV")).as("z"))
      .groupBy(expr(s"z DIV $width").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))
  }

  /** Watermark-lateness audit — THE number that sizes a Structured
    * Streaming `withWatermark` delay, measured from the data instead
    * of guessed: with `arrival` as the ingest log's append order (a
    * Kafka offset, a file sequence — the caller's column; the gate
    * plants a deterministic delivery delay because the synthetic log
    * is perfectly ordered), a row's lateness is how far event time
    * had ALREADY advanced past it when it arrived —
    * `max(us over strictly-earlier arrivals) − us`, clamped at 0.
    * Per event type: row count, late-row count, max lateness, and
    * exact P50/P90/P99 lateness via the histogram rank carve — a
    * delay at P99 admits 99% of late rows; `max_late_us` is the
    * loss-free bound. The NULL-vs-greatest ordering is the shared
    * x109 idiom: coalesce BEFORE greatest on both engines.
    *
    * Scale shape: the running max is one per-type window along the
    * arrival order (the log's native sort — no extra global sort at
    * the source); everything past the (type, late_us) histogram is
    * bounded by distinct lateness values (the X42 caveat: µs-granular
    * lateness can be near-unique — bucket first when a coarser answer
    * suffices; exact here, where the audit IS the product). */
  def watermarkLateness(
      events: DataFrame, ps: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("arrival"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = events
      .filter(col("ts").isNotNull && col("event_id").isNotNull)
      .select(col("event_type"), col("arrival"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("late_us",
        greatest(coalesce(max(col("us")).over(w) - col("us"), lit(0L)),
          lit(0L)))
    val hist = late.groupBy(col("event_type"), col("late_us"))
      .agg(count(lit(1)).as("cnt"))
    percentileDisc(hist, Seq("event_type"), "late_us", "cnt", ps,
      coalesce(sum(when(col("late_us") > 0, col("cnt"))), lit(0L))
        .as("n_late"),
      max(col("late_us")).as("max_late_us"))
      .select(col("event_type"), col("p"), col("n").as("n_events"),
        col("n_late"), col("max_late_us"), col("late_us").as("late_us_at_p"))
  }

  /** Incremental rollup maintenance — the partial-aggregate MERGE
    * contract that makes a 100 TB daily rollup refreshable without
    * rescanning history: `merge(partial(A), partial(B)) ≡ full(A ∪ B)`
    * for the mergeable aggregate vector (count, cent sum, min, max).
    * The frame splits at the data-derived half (the x176 idiom —
    * `min + (max − min) DIV 2`, subtraction first so truncating DIV ≡
    * flooring), each side aggregates to its own per-(day, event_type)
    * partial state — the STORED rollup and the incoming BATCH — and
    * the output is the merge of the two states: counts and cent sums
    * re-sum, mins re-min, maxes re-max. A day straddling the split
    * lands rows in BOTH states, so its final row exists only through
    * the merge path — exactly the case that breaks naive "append new
    * days" maintenance.
    *
    * The DuckDB oracle aggregates the WHOLE frame directly in one
    * pass, so the gate IS the merge-identity proof, cross-engine.
    * Cents via the shared floor(v·100 + 0.5) idiom (NULL values keep
    * NULL cents — sums/mins/maxes skip them identically on both
    * engines, counts count the row); day buckets via the pre-1970-safe
    * floor division.
    *
    * Scale shape: both partials are map-side-combinable groupBys over
    * their slice only; the merge aggregates STATE rows (days × types,
    * never raw events). An incremental pipeline persists the stored
    * state and pays only the batch's aggregation per refresh —
    * O(batch), the X27/X49/X59 growing-index discipline applied to
    * aggregation. */
  def rollupMerge(events: DataFrame): DataFrame = {
    val rows = events.filter(col("ts").isNotNull)
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val split = rows.agg(
      expr("min(us) + (max(us) - min(us)) DIV 2").as("split_us"))
    val keyed = rows.crossJoin(broadcast(split))
      .withColumn("day", day("us"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("day"), col("event_type")).agg(
        count(lit(1)).as("n"),
        coalesce(sum(col("cents")), lit(0L)).as("cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
    val stored = partial(keyed.filter(col("us") <= col("split_us")))
    val batch = partial(keyed.filter(col("us") > col("split_us")))
    stored.unionByName(batch)
      .groupBy(col("day"), col("event_type"))
      .agg(
        sum(col("n")).as("n"),
        sum(col("cents")).as("cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
  }

  /** Interval-union coverage per key — the sweep-line "how much of the
    * calendar was covered by AT LEAST ONE open interval" report (SLA
    * uptime, supplier active-exposure, machine busy-time): overlapping
    * intervals must count once, which no plain sum can do. Classic SQL
    * sweep: under the total order (start, end, tiebreak…), an interval
    * starts a new ISLAND iff its start lies strictly past the running
    * max end of all earlier intervals; islands are the maximal merged
    * segments, and coverage is the sum of island extents. Zero-length
    * and fully-contained intervals merge away by construction; `endUs`
    * is clamped to `startUs` first so a malformed backwards interval
    * degrades to a point instead of corrupting the running max.
    * Output per key: interval/island counts, covered span, total span
    * (max end − min start), utilization ppm (integral; an all-points
    * key has span 0 and reports 1e6 — covered ≡ span — under the
    * explicit guard).
    *
    * Determinism: the island assignment depends only on the running
    * max under a TOTAL order (`tiebreak` must complete it — pass the
    * source PK), so both engines replay the identical sweep; all
    * outputs are integer µs. The ppm product stages through
    * DECIMAL(38,0) ↔ HUGEINT (1e6 · covered overflows BIGINT past
    * ~292 µs-years of coverage).
    *
    * Scale shape: ONE shuffle on `key`, two window passes and two
    * groupBys all under the same partitioning — no join, no
    * self-comparison; per-key cost is linear in that key's intervals
    * after the exchange's sort. A key's intervals do funnel through
    * one task (inherent to an order-dependent sweep) — at 100 TB the
    * key must be the natural shard (supplier, host, tenant), not a
    * global constant; for the global case, pre-merge per key then
    * sweep the island set, which this operator composes with itself. */
  def intervalUnion(
      df: DataFrame, key: String, startUs: String, endUs: String,
      tiebreak: Seq[String]): DataFrame = {
    require(tiebreak.nonEmpty,
      "intervalUnion needs tiebreak columns completing a total order")
    val ord = col("__s") +: col("__e") +: tiebreak.map(col)
    val prevW = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cumW = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = df
      .filter(col(key).isNotNull && col(startUs).isNotNull &&
        col(endUs).isNotNull)
      .select(col(key) +: col(startUs).as("__s") +:
        greatest(col(endUs), col(startUs)).as("__e") +:
        tiebreak.map(col): _*)
    val islands = rows
      .withColumn("__pmax", max(col("__e")).over(prevW))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(cumW))
      .groupBy(col(key), col("__isl"))
      .agg(count(lit(1)).as("n"),
        min(col("__s")).as("__is"), max(col("__e")).as("__ie"))
    islands.groupBy(col(key))
      .agg(
        sum(col("n")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered_us"),
        (max(col("__ie")) - min(col("__is"))).as("span_us"))
      .withColumn("utilization_ppm",
        when(col("span_us") === 0, lit(1000000L))
          .otherwise(expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * covered_us " +
              "DIV span_us AS BIGINT)")))
  }

  /** Time-weighted average per event type — the metering average for
    * IRREGULARLY sampled signals (a gauge read at random times), where
    * the arithmetic mean over-weights busy periods: each sample's
    * value HOLDS until the next sample (step interpolation, the
    * standard metering convention), so the average is
    * `Σ value_i · (t_{i+1} − t_i) / (t_n − t_0)` — the last sample
    * bounds the window and contributes no mass. Cents via the shared
    * `floor(v·100 + 0.5)` idiom; NULL-valued samples are dropped
    * up front (a step function cannot hold an unknown). Samples
    * sharing a timestamp order by `event_id` (total order) — the
    * earlier one gets a zero-length segment on BOTH engines, so
    * duplicate-instant feeds stay deterministic. The weighted mass
    * runs in DECIMAL(38,0) ↔ HUGEINT (`cents · gap_us` sums past
    * BIGINT at corpus scale); the final division is sign-decomposed
    * (X142 — a negative-signal mass never meets truncate-vs-floor).
    * A single-instant group (span 0) reports NULL — no elapsed time,
    * no average, and NULL hashes identically cross-engine.
    *
    * Scale shape: one window pass (lead) and one groupBy under the
    * SAME (event_type) partitioning — one shuffle total, no join; the
    * per-type sequential dependency is a single lead(1), so the
    * window never buffers more than adjacent rows. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val rows = events
      .filter(col("ts").isNotNull && col("value").isNotNull &&
        col("event_id").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
    rows
      .withColumn("gap_us", lead(col("us"), 1).over(w) - col("us"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_samples"),
        (max(col("us")) - min(col("us"))).as("span_us"),
        sum(expr("CAST(cents AS DECIMAL(38,0)) * gap_us")).as("__wsum"))
      .select(col("event_type"), col("n_samples"), col("span_us"),
        when(col("span_us") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "CAST(CASE WHEN __wsum >= 0 THEN __wsum DIV span_us " +
              "ELSE -((-__wsum) DIV span_us) END AS BIGINT)"))
          .as("twa_cents"))
  }

  /** Mass-weighted exact percentiles per source — the Gopher-style
    * reporting axis [[lengthQuantiles]] cannot give: doc-count
    * percentiles treat a 40-char stub and a 40k-char book as equal
    * citizens, but training cost is paid in TOKENS, so the question
    * that sizes a corpus is "the length at or below which p% of the
    * CHAR MASS sits". Weighted PERCENTILE_DISC by histogram carve:
    * smallest value whose cumulative weight reaches ⌈p·W/100⌉, weight
    * = the bin's char mass (cnt·v). Zero-length docs form zero-weight
    * bins that can never be selected (the carve's half-open interval
    * is empty for them), and an all-empty source has no mass to rank —
    * it is absent by contract, not by accident.
    *
    * Scale shape: identical to the X42 carve — one map-side-combinable
    * histogram is the only corpus-scale stage; the cumulative window
    * and the target join run over the (source × distinct-length)
    * domain. Targets broadcast. `p·W` stays integral to ~10¹⁶ chars of
    * per-source mass — beyond any single source. */
  def weightedQuantiles(
      docs: DataFrame, ps: Seq[Int] = Seq(50, 90)): DataFrame = {
    val hist = docs
      .filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), length(col("text")).cast("long").as("v"))
      .groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("w", col("cnt") * col("v"))
    percentileDisc(hist, Seq("source"), "v", "w", ps,
      sum(col("cnt")).as("n_docs"))
      .select(col("source"), col("p"), col("n_docs"), col("n").as("char_mass"),
        col("v").as("chars_at_p"))
  }

  /** Exact 1-Wasserstein (earth-mover) drift per source — the third
    * member of the distribution-drift family: X59's L1 compares
    * token-frequency mass, [[ksDrift]] takes the WORST cdf gap, and
    * W₁ integrates ALL of it — `∫|cdf_s − cdf_all| dv` — so a source
    * that is slightly off everywhere (systematic truncation) scores
    * as high as one that is badly off somewhere, which KS's max
    * erases. Exact integers end to end: on the corpus value grid,
    * each segment contributes |cum_s·n_all − cum_all·n_s|·gap (the
    * cdf difference cross-multiplied; the last grid point has no
    * segment and contributes nothing), the sum rides DECIMAL(38,0) ↔
    * HUGEINT, and the report is `10⁶·Σ div (n_s·n_all)` — W₁ in
    * MICRO-CHARS of transport distance, nonneg so no sign ever meets
    * the division.
    *
    * Scale shape: [[ksDrift]]'s exactly — two map-side histograms
    * bounded by the value domain, a (values × sources) evaluation
    * grid with carry-forward cumulatives, totals broadcast. */
  def wassersteinDrift(docs: DataFrame): DataFrame = {
    val d = docs.select(col("source"),
      length(coalesce(col("text"), lit(""))).cast("long").as("v"))
    val gridW = Window.orderBy(col("v"))
    val allHist = d.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum_all", sum(col("cnt")).over(
        gridW.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("gap", lead(col("v"), 1).over(gridW) - col("v"))
    val nAll = allHist.agg(sum(col("cnt")).as("n_all"))
    val srcHist = d.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("scnt"))
    val nSrc = srcHist.groupBy(col("source"))
      .agg(sum(col("scnt")).as("n_src"))
    val grid = allHist.select(col("v"), col("cum_all"), col("gap"))
      .crossJoin(nSrc.select(col("source")))
      .join(srcHist, Seq("source", "v"), "left")
      .withColumn("cum_src",
        coalesce(sum(coalesce(col("scnt"), lit(0L))).over(
          Window.partitionBy(col("source")).orderBy(col("v"))
            .rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
    grid.join(broadcast(nSrc), Seq("source"))
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("n_src"), col("n_all"),
        expr("abs(CAST(cum_src AS DECIMAL(38,0)) * n_all - " +
          "CAST(cum_all AS DECIMAL(38,0)) * n_src) * gap").as("term"))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_docs"), max(col("n_all")).as("n_all"),
        sum(col("term")).as("num"))
      .select(col("source"), col("n_docs"),
        // divisor staged through DECIMAL too: the long product
        // n_docs·n_all passes BIGINT at ~3·10⁹ docs
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * coalesce(num, 0) " +
          "DIV (CAST(n_docs AS DECIMAL(38,0)) * n_all) AS BIGINT)")
          .as("w1_microchars"))
  }

  /** Consecutive-day activity streaks per user — the engagement shape
    * DAU/WAU ([[X94]]) and growth accounting (X-new/retained) both
    * average away: per user, active-day count, number of maximal
    * consecutive-day runs, and the longest run. The classic
    * gaps-and-islands identity: over a user's DISTINCT active days in
    * order, `day − row_number()` is constant exactly within a
    * consecutive run, so one window + two groupBys do it all — no
    * self-join, no recursion. Day buckets via the pre-1970-safe floor
    * division.
    *
    * Scale shape: the distinct collapses map-side; ONE shuffle on
    * user_id serves the window and both aggregates (the partitioning
    * satisfies both groupings); per-user cost is linear in that
    * user's active days. */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        day(EpochUs).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
  }

  /** Exact group-wise MODE with a stated tie policy — the categorical
    * profiling primitive next to [[propsProfile]]'s numeric extrema
    * and [[fdAudit]]'s dependency view: the most frequent value per
    * group (imputation default, dominant-category sanity), its count,
    * share, and the group's distinct-value breadth. SQL `mode()` is
    * tie-UNSPECIFIED on both engines, so this states the policy
    * instead: highest count, then SMALLEST value — the argmax rides
    * `min(struct(-cnt, value))` (the X51/X193 struct-argmin idiom),
    * and the ORACLE resolves the same policy through a ranked window
    * — a cross-construction, not an echo. NULL values profile as
    * absence (dropped up front): a NULL mode is a contract violation
    * report ([[contractCheck]]'s job), not a default anyone imputes.
    *
    * Scale shape: one map-side-combinable (group, value) histogram is
    * the only corpus-scale stage; the argmin and the rollup both ride
    * the value-domain-bounded frame under one group partitioning. */
  def groupMode(df: DataFrame, group: String, value: String): DataFrame = {
    val hist = df
      .filter(col(group).isNotNull && col(value).isNotNull)
      .groupBy(col(group), col(value))
      .agg(count(lit(1)).as("cnt"))
    hist.groupBy(col(group))
      .agg(
        min(struct((-col("cnt")).as("neg"), col(value).as("v"))).as("m"),
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_distinct"))
      .select(col(group), col("m.v").as("mode_value"),
        (-col("m.neg")).as("mode_cnt"), col("n_rows"), col("n_distinct"),
        expr("1000000 * (-m.neg) DIV n_rows").as("mode_share_ppm"))
  }

  /** One candidate functional dependency for [[fdAudit]]: does
    * `lhs` (a column set) determine `rhs` (a single column)? */
  final case class FdCandidate(lhs: Seq[String], rhs: String)

  /** Functional-dependency audit — the profiling question behind every
    * "can I key on this" / "is this column derivable" modeling
    * decision (Deequ-style uniqueness checks generalized to X→Y): per
    * candidate FD, the determinant-group count, how many groups
    * witness MORE than one distinct rhs (violations), the violation
    * rate in ppm, and the worst group's distinct-rhs fan-out. A held
    * FD reads `n_violating = 0, max_rhs_distinct ≤ 1`; the fan-out
    * says whether a violation is noise (2) or a wrong model entirely.
    * NULL semantics are the SQL ones on both engines: NULL lhs values
    * form their own group, NULL rhs values don't count as a distinct
    * witness — an all-NULL rhs group has fan-out 0 and violates
    * nothing.
    *
    * Scale shape: one map-side-combinable two-phase aggregate per
    * candidate (groupBy lhs → count distinct rhs → one-row rollup),
    * unioned; candidates never share a shuffle (their keys differ),
    * but each is the cheapest possible shape for its question and the
    * k-candidate audit is embarrassingly parallel. Nothing funnels:
    * the distinct-count plans as partial expand + merge, the rollup
    * aggregates group rows, never corpus rows. */
  def fdAudit(df: DataFrame, fds: Seq[FdCandidate]): DataFrame = {
    require(fds.nonEmpty, "fdAudit needs at least one candidate FD")
    fds.map { fd =>
      val label = fd.lhs.mkString("(", ",", ")") + "->" + fd.rhs
      df.groupBy(fd.lhs.map(col): _*)
        .agg(countDistinct(col(fd.rhs)).as("nd"))
        .agg(
          count(lit(1)).as("n_groups"),
          coalesce(sum(when(col("nd") > 1, 1L)), lit(0L))
            .as("n_violating"),
          coalesce(max(col("nd")), lit(0L)).as("max_rhs_distinct"))
        .select(lit(label).as("fd"), col("n_groups"), col("n_violating"),
          when(col("n_groups") === 0, lit(0L))
            .otherwise(expr("1000000 * n_violating DIV n_groups"))
            .as("violation_ppm"),
          col("max_rhs_distinct"))
    }.reduce(_ unionByName _)
  }

  /** DAILY TREND — exact ordinary-least-squares SLOPE of each event
    * type's daily count over the dense zero-filled day grid (the
    * direction-and-magnitude view next to X168's changepoint and
    * X158's autocorrelation: is this feed GROWING, and how fast):
    * with x = day index and y = count, `slope = (mΣxy − ΣxΣy) /
    * (mΣx² − (Σx)²)` — numerator and denominator are exact integers,
    * emitted as `slope_micro = sign · (10⁶·|num| div den)` (micro-
    * events per day; the sign-DECOMPOSED division — Spark DIV and
    * DuckDB 1.0.0's // both truncate toward zero, and a negative slope
    * still never reaches the division, so the result does not rest on
    * either engine's negative rounding, the x128 lesson). Absence is
    * data: a day with no events counts zero (a sparse fit would see
    * only busy days and bias the slope up). Products ride
    * DECIMAL(38,0) ↔ HUGEINT.
    *
    * Scale shape: one (type, day) map-side count, a dimension-sized
    * grid join, one per-type moment aggregate — type-count output. */
  def dailyTrend(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events).withColumnRenamed("n", "c")
    val series = dayGrid(daily)
      .crossJoin(daily.select(col("event_type")).distinct())
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), (col("day") - col("d0")).as("x"),
        coalesce(col("c"), lit(0L)).as("y"))
    series.groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .withColumn("num", expr("m * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("den", expr("m * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .select(col("event_type"), col("m").as("n_days"),
        when(col("m") < 2 || col("den") <= 0, lit(0L))
          .otherwise(expr(
            "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) * " +
              "(CAST(1000000 AS DECIMAL(38,0)) * abs(num) DIV den)" +
              " AS BIGINT)")).as("slope_micro"))
  }

  /** WEEK-OVER-WEEK GROWTH per event type over the dense week grid —
    * the growth-report row (X198's period contribution splits ONE
    * boundary; this walks every week): `growth_ppm = sign ·
    * (10⁶·|cur − prev| div prev)`, sign-decomposed (negative deltas
    * never reach a cross-engine integer division). A zero-event
    * previous week reports NULL growth — "up from nothing" is not a
    * rate, and NULL is distinguishable from a real 0 (flat).
    * The first week of the span has no predecessor and reports NULL
    * too. Absence is data: empty weeks are zero rows in the grid,
    * not gaps the lag silently skips.
    *
    * Scale shape: one (type, week) map-side count, dimension-sized
    * grid, one lag window inside type partitions. */
  def wowGrowth(events: DataFrame): DataFrame = {
    val weekly = events.filter(col("ts").isNotNull)
      .select(col("event_type"),
        expr(epochFloorDiv(EpochUs, 7L * 86400000000L)).as("week"))
      .groupBy(col("event_type"), col("week"))
      .agg(count(lit(1)).as("c"))
    val span = weekly.agg(min(col("week")).as("w0"), max(col("week")).as("w1"))
    val grid = span
      .select(explode(sequence(col("w0"), col("w1"))).as("week"))
      .crossJoin(weekly.select(col("event_type")).distinct())
    val series = grid
      .join(weekly, Seq("event_type", "week"), "left")
      .select(col("event_type"), col("week"),
        coalesce(col("c"), lit(0L)).as("n_events"))
    series
      .withColumn("prev_events", lag(col("n_events"), 1).over(
        Window.partitionBy(col("event_type")).orderBy(col("week"))))
      .withColumn("growth_ppm",
        when(col("prev_events").isNull || col("prev_events") === 0,
          lit(null).cast("long"))
          .otherwise(expr(
            "CAST((CASE WHEN n_events < prev_events THEN -1 ELSE 1 END) * " +
              "(1000000 * abs(n_events - prev_events) DIV prev_events)" +
              " AS BIGINT)")))
  }

  /** THEIL–SEN ROBUST TREND — the median of all pairwise daily-count
    * slopes per event type over the dense zero-filled day grid
    * (Theil 1950; Sen 1968): the robust companion to [[dailyTrend]]'s
    * OLS — one collector-outage day drags an OLS slope (the planted
    * x87 shape) but moves at most half the pairwise slopes, so the
    * MEDIAN slope holds (breakdown point ~29%).
    *
    * Exactness contract: each pair's slope is the exact rational
    * `(y_j − y_i) / (x_j − x_i)` with a POSITIVE integer denominator;
    * pairs are totally ordered by `(num/den AS DOUBLE, num, den)` —
    * the IEEE double is identically rounded on both engines and the
    * integer tiebreak makes the order total, so the selected element
    * is engine-identical (two distinct rationals within one ulp may
    * order by the tiebreak, in which case the selected VALUE is
    * within one ulp of the true median — the documented
    * quantization). Lower median at even pair counts (rank
    * `(P+1) div 2` — selecting an ELEMENT keeps the output an exact
    * rational; averaging the two middles would not). Output
    * `slope_micro = sign·(10⁶·|num| div den)` — sign-DECOMPOSED, the
    * x128 rule: a negative numerator never reaches a cross-engine
    * integer division. Types with fewer than 2 grid days are absent
    * (no pair, no slope).
    *
    * Scale shape: pair volume is days²·types — bounded by the TIME
    * dimension, never by event volume (events fold to daily counts
    * map-side first). The median is selected by the histogram-carve
    * convention (x30/x132): pairs group to distinct slope keys, one
    * cumulative window runs over DISTINCT keys per type (bounded by
    * distinct slope values, not pair count), and the carve picks the
    * first key whose cumulative count reaches the median rank. */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events).withColumnRenamed("n", "c")
    val series = dayGrid(daily)
      .crossJoin(daily.select(col("event_type")).distinct())
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), (col("day") - col("d0")).as("x"),
        coalesce(col("c"), lit(0L)).as("y"))
    val pairs = series.as("i")
      .join(series.as("j"),
        col("i.event_type") === col("j.event_type") &&
          col("i.x") < col("j.x"))
      .select(col("i.event_type").as("event_type"),
        (col("j.y") - col("i.y")).as("num"),
        (col("j.x") - col("i.x")).as("den"))
    // histogram carve over DISTINCT slope keys: the cumulative window
    // never sees the raw pair rows
    val keyed = pairs
      .groupBy(col("event_type"),
        (col("num").cast("double") / col("den").cast("double")).as("sd"),
        col("num"), col("den"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sd"), col("num"), col("den"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carved = keyed
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(
        Window.partitionBy(col("event_type"))))
    carved
      // median rank r = (P+1) DIV 2 (lower median); the key whose
      // cumulative interval (cum-cnt, cum] straddles r is the median
      .filter(col("cum") - col("cnt") < expr("(total + 1) DIV 2") &&
        expr("(total + 1) DIV 2") <= col("cum"))
      .select(col("event_type"), col("total").as("n_pairs"),
        expr("CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) * " +
          "(1000000 * abs(num) DIV den) AS BIGINT)").as("slope_micro"))
  }

  /** MAX DRAWDOWN of the daily-count series per event type — the
    * worst peak-to-trough collapse ("the feed fell to 40% of its
    * prior peak") on the dense zero-filled grid: the single number
    * that summarizes outage DEPTH where x87 flags days and x153 finds
    * the break POINT. Per day, the running peak (running max over the
    * inclusive prefix) and the day's drawdown `10⁶·(peak − y) div
    * peak` (exact integral division per day; the max of per-day
    * floors is deterministic — never a division of aggregates);
    * output per type: the series peak, the worst drawdown in ppm,
    * and the worst absolute drop. Types with an all-zero series
    * report 0 (no peak to fall from — the guard, not a 0/0).
    *
    * Scale shape: events fold to daily counts map-side; one running
    * window inside type partitions over the days-bounded grid; one
    * type-sized aggregate. */
  def dailyDrawdown(events: DataFrame): DataFrame = {
    val daily = dailyCounts(events).withColumnRenamed("n", "c")
    val series = dayGrid(daily)
      .crossJoin(daily.select(col("event_type")).distinct())
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("c"), lit(0L)).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series
      .withColumn("peak", max(col("y")).over(w))
      .groupBy(col("event_type"))
      .agg(max(col("peak")).as("peak_count"),
        max(when(col("peak") > 0,
          expr("1000000 * (peak - y) DIV peak")).otherwise(lit(0L)))
          .as("max_drawdown_ppm"),
        max(col("peak") - col("y")).as("max_drop"))
  }

  /** SEASONALITY STRENGTH — per event type, the share of daily-count
    * variance the DAY OF WEEK explains (eta² of weekday on the dense
    * zero-filled daily series): the screen that separates a feed with
    * real weekly rhythm (capacity planning, seasonal-naive forecasts
    * — x145 — are justified) from one whose weekday profile — x131 —
    * is just noise. The x211 ANOVA machinery applied per type:
    * `eta²_ppm = 10⁶·(Σ_w S_w² div n_w − S² div N) div (Σy² − S² div
    * N)` under the stated sums-of-floors convention, every floor the
    * exact decimal `(a − pmod(a,b))/b` construction (the x211
    * overflow lesson), clamped at 0. Weekday is the x131 pure-integer
    * `pmod(epoch_day + 3, 7) + 1` — no engine calendar functions.
    *
    * Scale shape: events fold to (type, day) counts map-side; the
    * grid join and both moment aggregates are dimension-sized
    * (types × days, then types × 7); type-count output. */
  def seasonalityStrength(events: DataFrame): DataFrame = {
    def floorDivDec(a: String, b: String): String =
      s"CAST((($a) - pmod($a, $b)) / ($b) AS DECIMAL(38,0))"
    val daily = dailyCounts(events).withColumnRenamed("n", "c")
    val series = dayGrid(daily)
      .crossJoin(daily.select(col("event_type")).distinct())
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"),
        (pmod(col("day") + 3, lit(7)) + 1).as("weekday"),
        coalesce(col("c"), lit(0L)).as("y"))
    val per = series.groupBy(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("n_w"), sum(col("y")).as("s_w"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k_groups"),
        sum(col("n_w")).as("n_days"),
        sum(col("s_w")).as("s_total"),
        sum(expr(floorDivDec("CAST(s_w AS DECIMAL(38,0)) * s_w", "n_w")))
          .as("t_between"))
    val q = series.groupBy(col("event_type"))
      .agg(sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("q_total"))
    per.join(q, Seq("event_type"))
      .withColumn("correction", expr(
        floorDivDec("CAST(s_total AS DECIMAL(38,0)) * s_total", "n_days")))
      .select(col("event_type"), col("n_days"),
        when(col("n_days") < 2 || col("k_groups") < 2 ||
          expr("q_total - correction") <= 0, lit(0L))
          .otherwise(greatest(lit(0L), expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * (t_between - correction)" +
              " DIV (q_total - correction) AS BIGINT)")))
          .as("eta2_ppm"))
  }

  /** WILSON SCORE INTERVAL per group — the 95% binomial proportion
    * bounds every conversion/hit-rate report should carry instead of
    * the normal approximation (Wilson 1927; the normal interval
    * collapses to zero width at p̂∈{0,1} and escapes [0,1] at small n;
    * Wilson does neither). `hit` is a boolean column; NULL hits are
    * excluded from both numerator and denominator.
    *
    * Hash-exactness: the bounds are PER-ROW double expression trees
    * over exact integer counts, spelled with identical text and
    * parenthesization on both engines (the x40/x215 convention — every
    * +,*,/,sqrt is correctly-rounded IEEE, so identical operand order
    * gives bit-identical doubles; there is NO float aggregation across
    * rows). z is the literal 1.96 — both SQL parsers bind it to the
    * same double.
    *
    * Scale shape: one map-side-combinable count aggregate; group-count
    * output. */
  def wilsonCi(flags: DataFrame, group: String = "event_type"): DataFrame = {
    val c = flags
      .filter(col("hit").isNotNull)
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_total"),
        sum(col("hit").cast("long")).as("n_hit"))
      .filter(col("n_total") > 0)
    c.withColumn("p_hat",
        expr("CAST(n_hit AS DOUBLE) / CAST(n_total AS DOUBLE)"))
      .withColumn("__nd", expr("CAST(n_total AS DOUBLE)"))
      .withColumn("wilson_low", expr(
        "(p_hat + (1.96*1.96)/(2.0*__nd) - 1.96 * " +
          "sqrt((p_hat*(1.0-p_hat))/__nd + (1.96*1.96)/(4.0*__nd*__nd)))" +
          " / (1.0 + (1.96*1.96)/__nd)"))
      .withColumn("wilson_high", expr(
        "(p_hat + (1.96*1.96)/(2.0*__nd) + 1.96 * " +
          "sqrt((p_hat*(1.0-p_hat))/__nd + (1.96*1.96)/(4.0*__nd*__nd)))" +
          " / (1.0 + (1.96*1.96)/__nd)"))
      .drop("__nd")
  }

  /** TOP-K WITH AN "OTHERS" BUCKET — the reporting staple every
    * dashboard table is (top 3 nations per region, everything else
    * folded into one row so the group still SUMS to its total; a
    * bare top-k silently drops the tail and the report stops
    * reconciling): per group, the k largest keys by (value desc,
    * key) with ranks 1..k, plus one `Others` row at rank k+1
    * carrying the residual key count and value. A group with ≤ k
    * keys has NO Others row — an explicit zero row would claim a
    * tail that does not exist.
    *
    * Scale shape: one map-side-combinable (group, key) aggregate,
    * one rank window inside group partitions (WindowGroupLimit
    * prunes below the exchange for the top side), one group-sized
    * residual aggregate. */
  def topkOthers(
      fact: DataFrame, groupCol: String, keyCol: String,
      value: Column, k: Int = 3): DataFrame = {
    require(k >= 1, s"k $k must be positive")
    val agg = fact
      .select(col(groupCol).as("grp"), col(keyCol).as("key"),
        value.as("cents"))
      .filter(col("grp").isNotNull && col("key").isNotNull &&
        col("cents").isNotNull)
      .groupBy(col("grp"), col("key"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("cents").desc, col("key"))).cast("long"))
    val top = agg.filter(col("rnk") <= k)
      .select(col("grp").as(groupCol), col("key").cast("string").as("bucket"),
        col("rnk").as("rank"), lit(1L).as("n_keys"), col("n_rows"),
        col("cents"))
    val others = agg.filter(col("rnk") > k)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n_rows")).as("n_rows"),
        sum(col("cents")).as("cents"))
      .select(col("grp").as(groupCol), lit("Others").as("bucket"),
        lit((k + 1).toLong).as("rank"), col("n_keys"), col("n_rows"),
        col("cents"))
    top.unionByName(others)
  }

  /** 2-D SKYLINE (Pareto front, maximize both) — the multi-objective
    * shortlist query ("which documents are not beaten on BOTH length
    * and vocabulary by anything else"; Börzsönyi et al. 2001's
    * skyline operator): a row survives iff no other row is ≥ on both
    * integer dimensions and > on at least one. The skyline SET is
    * unique — no tie policy needed, equal points survive together.
    *
    * NOT the naive all-pairs dominance test: only rows carrying
    * their x-value's MAX y can survive (a same-x row with higher y
    * dominates), so the corpus reduces to one row per distinct x
    * first — the running strictly-greater-x max then runs over a
    * DISTINCT-X-sized frame (a value-domain window, dimension-sized
    * by construction: the x36 budget-select convention), and
    * survivors join back to pick up every tying row. */
  def skyline2d(
      df: DataFrame, idCol: String, xCol: String, yCol: String): DataFrame = {
    val base = df
      .select(col(idCol).as("id"), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
    val perX = base.groupBy(col("x")).agg(max(col("y")).as("my"))
    // max y over STRICTLY greater x: integer dims make the exclusive
    // bound exact as a value-range frame
    val runGt = perX.withColumn("gt_my",
      max(col("my")).over(
        Window.orderBy(col("x"))
          .rangeBetween(1L, Window.unboundedFollowing)))
    val frontier = runGt
      .filter(col("gt_my").isNull || col("gt_my") < col("my"))
      .select(col("x"), col("my").as("y"))
    base.join(frontier, Seq("x", "y"))
      .select(col("id").as(idCol), col("x").as(xCol), col("y").as(yCol))
  }

  /** AUDIENCE OVERLAP between event types — "do the people who click
    * also purchase" as exact set arithmetic (the segmentation
    * question behind every cross-sell/funnel hypothesis): for every
    * type pair (a < b), the two audience sizes, the intersection,
    * and the exact Jaccard in ppm. Distinct-user audiences, so a
    * heavy user counts once (the x150 distinct-before-pair rule).
    *
    * Scale shape: one distinct (type, user) projection, a user-keyed
    * self-join whose fan-out is (types per user)² — bounded by the
    * type inventory squared, NOT by users — then a pair-count
    * aggregate and a broadcast of the type-count dimension. */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val ua = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = ua.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val pairs = ua.as("a")
      .join(ua.as("b"), Seq("user_id"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_common"),
        expr("1000000 * n_common DIV (n_a + n_b - n_common)")
          .as("jaccard_ppm"))
  }

  /** HERFINDAHL–HIRSCHMAN CONCENTRATION INDEX per group — the
    * market-concentration screen next to the Gini index and Pareto
    * crossing (Gini asks "how unequal", HHI asks "how MONOPOLIZED":
    * `Σ share_i²` — 10⁶ ppm = one unit owns everything, 10⁶/k = k
    * equal contributors): per group, the unit-contribution
    * concentration in exact ppm, `hhi_ppm = 10⁶·Σc_u² div N²`, plus
    * the largest single contributor's share. Sums of squared counts
    * and N² ride DECIMAL(38,0) ↔ HUGEINT (10⁹-event groups square
    * past BIGINT).
    *
    * Scale shape: one map-side-combinable (group, unit) count, one
    * per-group second aggregate — dimension-sized after the first
    * pass, nothing all-pairs (Σc² needs no pair enumeration). */
  def hhi(df: DataFrame, group: String, unit: String): DataFrame = {
    val c = df
      .filter(col(group).isNotNull && col(unit).isNotNull)
      .groupBy(col(group).as("grp"), col(unit).as("u"))
      .agg(count(lit(1)).as("c"))
    c.groupBy(col("grp"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_units"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sum_c2"),
        max(col("c")).as("max_c"))
      .select(col("grp").as(group), col("n_events"), col("n_units"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * sum_c2" +
          " DIV (CAST(n_events AS DECIMAL(38,0)) * n_events) AS BIGINT)")
          .as("hhi_ppm"),
        expr("CAST(CAST(max_c AS DECIMAL(38,0)) * 1000000" +
          " DIV n_events AS BIGINT)").as("max_share_ppm"))
  }

  /** SHARE-OF-PARENT rollup — the drill-down contribution view every
    * OLAP hierarchy report is built from (region → nation → …): per
    * (parent, child), the child's exact value total and its ppm
    * share of the parent's total. Shares within one parent sum to
    * ≤ 10⁶ exactly (integral floors — the dribble is the floor
    * remainder, visible, never re-spread). Values are NON-NEGATIVE
    * by contract — a share-of-parent over mixed-sign values is
    * ill-defined (shares stop summing to the whole), and a negative
    * numerator would also hit the trunc-vs-floor cross-engine
    * divergence.
    *
    * Exact integers: child and parent totals are long sums of cents;
    * the share stages `10⁶ · child` through DECIMAL(38,0) ↔ HUGEINT
    * (a 10¹⁶-cent parent would overflow the naive product). One
    * map-side-combinable (parent, child) aggregate, a parent-count
    * second aggregate, one broadcast join back — dimension-sized
    * after the first pass. */
  def hierarchyShares(
      fact: DataFrame, childCol: String, parentCol: String,
      value: Column): DataFrame = {
    val base = fact
      .select(col(parentCol).as("parent"), col(childCol).as("child"),
        value.as("cents"))
      .filter(col("cents").isNotNull && col("child").isNotNull &&
        col("parent").isNotNull)
    val ch = base.groupBy(col("parent"), col("child"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("child_cents"))
    val pa = ch.groupBy(col("parent"))
      .agg(sum(col("child_cents")).as("parent_cents"))
    ch.join(broadcast(pa), Seq("parent"))
      .select(col("parent"), col("child"), col("n_rows"),
        col("child_cents"), col("parent_cents"),
        when(col("parent_cents") === 0, lit(0L))
          .otherwise(expr(
            "CAST(CAST(child_cents AS DECIMAL(38,0)) * 1000000" +
              " DIV parent_cents AS BIGINT)")).as("share_ppm"))
  }

  /** CUMULATIVE REACH — "how many distinct users have we EVER seen
    * by day d" (the audience-growth curve; its derivative is the
    * new-user rate, its plateau is saturation): each user counts on
    * their FIRST-appearance day only, so the curve is the running
    * sum of first-appearance counts — one distinct-user aggregate,
    * never a per-day distinct over the whole history (the naive
    * cumulative-distinct recomputes day × users).
    *
    * The running sum is a single-partition window over the
    * first-day COUNT frame — days, not events; dimension-sized by
    * construction (the x161 backlog-curve convention). */
  def cumulativeReach(events: DataFrame): DataFrame = {
    val firstDay = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        day(EpochUs).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("day"))
    firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), col("new_users"), col("cum_users"))
  }

  /** PEAK-RATE burst detection — each user's maximum event count in
    * any sliding 60-second window (the rate-limit / abuse view of
    * burstiness; X161's CV² says a user's gaps are IRREGULAR, this
    * says how hard the densest burst actually hit): an exact
    * value-RANGE window `(us − 60 s, us]` anchored at every event —
    * the max over anchors equals the max over ALL windows because a
    * window's count only changes at event arrivals. Top `k` users
    * under the (peak desc, user_id) total order.
    *
    * Scale shape: the range window runs inside per-user partitions
    * (millions of small partitions, no single-task funnel); the
    * top-k is TakeOrderedAndProject over user-count rows. */
  def peakRate(
      events: DataFrame, windowUs: Long = 60000000L,
      k: Int = 20): DataFrame = {
    require(windowUs >= 1, s"window $windowUs must be positive")
    require(k >= 1, s"k $k must be positive")
    // NULL users out up front: an aggregated null-user row tying at
    // the k boundary would sort NULLS FIRST here and NULLS LAST in
    // DuckDB — the cross-engine cut divergence the sibling event
    // operators already guard against
    val base = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), expr(EpochUs).as("us"))
    base
      .withColumn("c", count(lit(1)).over(
        Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-(windowUs - 1), 0)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("c")).as("peak_60s"))
      .orderBy(col("peak_60s").desc, col("user_id"))
      .limit(k)
  }

  /** INVOICE RECONCILIATION — the header-vs-detail integrity audit
    * every billing/ELT pipeline runs (does the order header total
    * equal the sum of its recomputed line amounts?): per line,
    * `cents = ⌊price·(1−disc)·(1+tax)·100 + 0.5⌋` — ONE double
    * expression tree per row, written identically on both engines
    * (the x40 flag convention; no float ever crosses an aggregate) —
    * summed per order and compared to the header's cents. Per order
    * status: how many orders reconcile exactly, how many have no
    * detail rows at all (charged their full header amount as delta),
    * and the worst/total absolute drift.
    *
    * Scale shape: one map-side-combinable per-order line sum, one
    * broadcast-free equi-join on the order key (both sides shuffle
    * once on o_orderkey), one status-sized rollup. */
  def invoiceReconcile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lines = lineitem
      .select(col("l_orderkey").as("o_orderkey"), expr(
        "CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)" +
          " * 100 + 0.5) AS BIGINT)").as("line_cents"))
      .groupBy(col("o_orderkey"))
      .agg(sum(col("line_cents")).as("detail_cents"),
        count(lit(1)).as("n_lines"))
    orders
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("header_cents"))
      .join(lines, Seq("o_orderkey"), "left")
      .select(col("o_orderstatus"),
        (col("header_cents") - coalesce(col("detail_cents"), lit(0L)))
          .as("delta"),
        col("n_lines"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        coalesce(sum(when(col("delta") === 0, 1L)), lit(0L))
          .as("n_matched"),
        coalesce(sum(when(col("n_lines").isNull, 1L)), lit(0L))
          .as("n_no_lines"),
        coalesce(max(abs(col("delta"))), lit(0L))
          .as("max_abs_delta_cents"),
        coalesce(sum(abs(col("delta"))), lit(0L))
          .as("sum_abs_delta_cents"))
  }

  /** LEAD-LAG CROSS-CORRELATION between two event types' daily counts
    * — "does X move BEFORE Y" (marketing clicks before purchases,
    * errors before churn): for each lag L in [−maxLag, +maxLag], the
    * signed squared Pearson between x(day) and y(day + L) over the
    * dense day grid, in exact ppm. A positive-signed peak at L > 0
    * reads "x leads y by L days". Absence is DATA: the grid is the
    * dense [min, max] day span and a day with no events counts zero
    * (a sparse join would silently correlate only busy days).
    *
    * The correlation is the x129 convention (signed squared Pearson,
    * integer moments, no sqrt) under the x141 STAGED division —
    * `q = 10⁶·|num| div max(denx, deny)` (≤ 10⁶ by Cauchy–Schwarz),
    * then `q·|num| div min(denx, deny)` — so no intermediate product
    * exceeds DECIMAL(38,0) even on long spans (the spearman overflow
    * regression's cure). Guards: fewer than 2 overlapping days or a
    * zero-variance side reports 0.
    *
    * Scale shape: one map-side-combinable (type, day) count, a
    * dimension-sized dense grid (days, not events), a lags×grid
    * frame that is still dimension-sized, and a 2·maxLag+1-row
    * output. The event scan happens once; nothing corpus-scale ever
    * joins all-pairs. */
  def leadLagCorrelation(
      events: DataFrame, typeX: String, typeY: String,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag $maxLag must be positive")
    require(typeX != typeY, "lead-lag needs two distinct event types")
    val daily = dailyCounts(events)
      .filter(col("event_type").isin(typeX, typeY))
      .withColumnRenamed("n", "c")
    def series(t: String, out: String): DataFrame = dayGrid(daily)
      .join(daily.filter(col("event_type") === t)
        .select(col("day"), col("c")), Seq("day"), "left")
      .select(col("day"), coalesce(col("c"), lit(0L)).as(out))
    val xs = series(typeX, "x")
    val ys = series(typeY, "y")
    val lagged = xs
      .select(col("day"), col("x"),
        explode(typedLit((-maxLag to maxLag).toList)).as("lag"))
      .join(ys.select(col("day").as("yday"), col("y")),
        col("yday") === col("day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
      .withColumn("num", expr("m * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("denx", expr("m * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("deny", expr("m * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
    lagged
      .select(col("lag").cast("long").as("lag"), col("m").as("n_days"),
        when(col("m") < 2 || col("denx") <= 0 || col("deny") <= 0, lit(0L))
          .otherwise(expr(
            "CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) * " +
              "((CAST(1000000 AS DECIMAL(38,0)) * abs(num)" +
              " DIV greatest(denx, deny)) * abs(num)" +
              " DIV least(denx, deny)) AS BIGINT)"))
          .as("r2_signed_ppm"))
  }

  /** DETERMINISTIC SUBSAMPLING REPLICATES for the mean — the
    * inference primitive behind "how stable is this metric"
    * (Politis–Romano subsampling: B half-samples without
    * replacement; the spread of replicate means IS the confidence
    * band, no distributional assumption, no RNG): replicate b keeps
    * the rows whose salted content hash has BIT b clear —
    * `(md5₃₂(salt|key) >> b) & 1 = 0` — ONE hash per row serving all
    * B ≤ 32 replicates (md5 bits are independent coin flips, so bit
    * b is exactly the per-replicate fair coin the per-replicate
    * rehash would be, at 1/B the hash cost); reproducible across
    * runs, re-shards, and engines (the Assemble split discipline
    * applied to inference), so two teams quoting "replicate 7" mean
    * the same rows. Values are integer cents; each replicate reports
    * its exact count, sum, and integral mean — quantiles of the 32
    * means are the caller's one-liner from the emitted frame.
    *
    * Scale shape: the replicate explode multiplies rows by B, but
    * every row lands in a map-side-combinable B-group aggregate —
    * the shuffle carries B partial rows per task, never data; cost
    * is ONE hash evaluation riding the one scan (plus B shifts). A
    * replicate whose half-sample kept no rows is ABSENT from the
    * output (possible only on toy inputs), never a divide-by-zero. */
  def subsampleMeans(
      df: DataFrame, keyCol: String, value: Column,
      reps: Int = 32, salt: String = "ci"): DataFrame = {
    require(reps >= 2 && reps <= 32,
      s"reps $reps must be in [2, 32] (one bit per replicate)")
    df.select(col(keyCol).cast("string").as("k"), value.as("v"))
      .filter(col("v").isNotNull)
      .withColumn("h", OracleHash.md5Hash32(concat(lit(salt + "|"), col("k"))))
      .select(col("h"), col("v"),
        explode(typedLit((0 until reps).toList)).as("rep"))
      .filter(expr("shiftright(h, rep) & 1") === 0)
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_cents"))
      .select(col("rep").cast("long").as("rep"), col("n_rows"),
        col("sum_cents"),
        // sign-decomposed: a refund-heavy replicate's negative sum
        // never reaches a cross-engine integer division (Spark DIV and
        // DuckDB 1.0.0's // both truncate, but the result must not rest
        // on either engine's negative rounding — the x128 lesson)
        expr("(CASE WHEN sum_cents < 0 THEN -1 ELSE 1 END)" +
          " * (abs(sum_cents) DIV n_rows)").as("mean_cents"))
  }

  /** ANOVA effect size — the between-group share of variance
    * (eta², the "does this categorical column explain this metric"
    * screen next to x144's chi² for two categoricals and x147's
    * Mann-Whitney for two groups): over integer values,
    * `eta²_ppm = 10⁶ · (Σ_g S_g² div n_g − S² div N) div
    * (Σx² − S² div N)`, where each per-group term is an INTEGRAL
    * division — the x144 sums-of-floors convention, stated rather
    * than hidden (exact rational arithmetic would need a common
    * denominator of Π n_g). Floors can push the numerator a hair
    * negative when groups explain nothing; it clamps at 0. All
    * cross-products ride DECIMAL(38,0) ↔ HUGEINT (S_g ≈ 10¹² cents
    * squares to 10²⁴), and the per-group/correction FLOORS stay in
    * decimal too — `S_g² div n_g` itself exceeds BIGINT at fixture
    * scale, so the floor is the exact `(a − pmod(a, b)) / b`
    * construction (exactly divisible ⇒ no scale rounding), never a
    * DIV whose Long result type would overflow (the wasserstein
    * lesson, one step further).
    *
    * Scale shape: one map-side-combinable per-group (n, Σx) pass +
    * one Σx² global — group-count-sized frames after the first
    * aggregate; a single-row output. */
  def anovaEta(df: DataFrame, group: String, value: Column): DataFrame = {
    // exact decimal floor-div for non-negative a: subtracting the
    // remainder first makes the decimal division exact (fraction is
    // .000000, no HALF_UP boundary crossing)
    def floorDivDec(a: String, b: String): String =
      s"CAST((($a) - pmod($a, $b)) / ($b) AS DECIMAL(38,0))"
    val base = df.select(col(group).as("g"), value.as("v"))
      .filter(col("v").isNotNull && col("g").isNotNull)
    val per = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s_g"))
      .agg(count(lit(1)).as("k_groups"),
        sum(col("n_g")).as("n_total"),
        sum(col("s_g")).as("s_total"),
        sum(expr(floorDivDec("CAST(s_g AS DECIMAL(38,0)) * s_g", "n_g")))
          .as("t_between"))
    val q = base.agg(
      sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("q_total"))
    per.crossJoin(broadcast(q))
      .withColumn("correction", expr(
        floorDivDec("CAST(s_total AS DECIMAL(38,0)) * s_total", "n_total")))
      .select(col("n_total"), col("k_groups"),
        when(col("n_total") < 2 || col("k_groups") < 2 ||
          expr("q_total - correction") <= 0, lit(0L))
          .otherwise(greatest(lit(0L), expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * (t_between - correction)" +
              " DIV (q_total - correction) AS BIGINT)")))
          .as("eta2_ppm"))
  }

  /** IMPORTANCE-WEIGHT DIAGNOSTICS — effective sample size per group
    * (Kish 1965, `ESS = (Σw)² / Σw²`), the standard health check on
    * any weighted training mix: soft-dedup weights (X179), mixture
    * weights, propensity weights. `ess_ppm = 10⁶ · ESS / n` reads as
    * "what fraction of the group's rows the weighted sample is
    * WORTH" — 10⁶ = all weights equal (dedup found nothing), a small
    * value = a few heavy rows dominate and the group's effective
    * diversity collapsed (train-mix red flag long before loss
    * curves show it). Also emits the max-weight share `max_w_share_
    * ppm = 10⁶ · max(w) div Σw` — the single-row domination view of
    * the same failure.
    *
    * Exact integer end to end: weights are ppm integers; (Σw)² and
    * Σw² ride DECIMAL(38,0) ↔ HUGEINT (10⁹ rows × 10⁶ ppm ⇒ Σw ≈
    * 10¹⁵, squared 10³⁰ — past BIGINT, inside 38 digits). One
    * map-side-combinable aggregate per group; dimension-sized
    * output. */
  def importanceDiagnostics(
      weighted: DataFrame, group: String, weightCol: String): DataFrame = {
    val w = weighted.select(col(group).as("grp"),
      col(weightCol).cast("long").as("w"))
    w.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("w")).as("sum_w"),
        sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("sum_w2"),
        max(col("w")).as("max_w"))
      .select(col("grp").as(group), col("n"), col("sum_w"),
        when(col("sum_w2") > 0, expr(
          "CAST(CAST(sum_w AS DECIMAL(38,0)) * sum_w * 1000000" +
            " DIV (sum_w2 * n) AS BIGINT)")).otherwise(lit(0L))
          .as("ess_ppm"),
        when(col("sum_w") > 0, expr(
          "CAST(CAST(max_w AS DECIMAL(38,0)) * 1000000 DIV sum_w" +
            " AS BIGINT)")).otherwise(lit(0L)).as("max_w_share_ppm"))
  }

  /** FORWARD-FILL (last observation carried forward) over the dense
    * day grid — the staleness-aware feature series every downstream
    * model join consumes ("what was this feed's last known daily
    * total, and how old is it?"): per event type and day, the day's
    * exact cents total where the day has events, the most recent
    * OBSERVED day at-or-before, its value carried forward, and the
    * age in days. Absence is data (the x145/x209 dense-grid rule):
    * a sparse frame can't distinguish "no row" from "stale by 5
    * days", and the age column is the point. Days before a type's
    * first observation stay NULL — "never seen" is distinguishable
    * from "seen, value 0".
    *
    * The fill is a running `max(CASE observed day)` window + an
    * equi-join back to the daily frame on the carried day — NOT a
    * window `last_value IGNORE NULLS` (engines disagree on IGNORE
    * NULLS availability/semantics in frames; a max-and-join is
    * construction-identical on both). No division, no float
    * aggregation — cents sums only.
    *
    * Scale shape: one map-side (type, day) aggregate; grid, running
    * window (per-type partitions) and the join-back are all
    * dimension-sized (types × days). */
  def forwardFill(events: DataFrame): DataFrame = {
    val daily = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull &&
        col("value").isNotNull)
      .select(col("event_type"),
        day(EpochUs).as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("cents")).as("day_cents"))
    val dense = daily.select(col("event_type")).distinct()
      .crossJoin(dayGrid(daily))
      .join(daily, Seq("event_type", "day"), "left")
    val filled = dense.withColumn("last_day",
      max(when(col("day_cents").isNotNull, col("day")))
        .over(Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    filled
      .join(daily.select(col("event_type"), col("day").as("last_day"),
        col("day_cents").as("filled_cents")),
        Seq("event_type", "last_day"), "left")
      .select(col("event_type"), col("day"), col("day_cents"),
        col("last_day"), (col("day") - col("last_day")).as("age_days"),
        col("filled_cents"))
  }

  /** EXACT-INTEGER EWMA TREND — the smoothed daily-volume view next to
    * X237's OLS slope (the slope says where the WHOLE window points;
    * the EWMA says where the series is NOW, recency-weighted): per
    * event type and day, `ewma = Σ_{j=0..L} ⌊count(day−j) / 2^(j+1)⌋`
    * over the DENSE zero-filled day grid. α = 1/2 as a power-of-two
    * half-life keeps exponential decay EXACT cross-engine (the x169
    * convention — no float pow ever enters), each term an independent
    * floor via `>>` on non-negative counts (sums-of-floors, the x144
    * convention, stated: this is Σ⌊·⌋, not ⌊Σ·⌋). The lookback is
    * capped at `maxLookback` days: a day-j term is `count >> (j+1)`,
    * already 0 for any realistic daily count beyond j ≈ 40, and the
    * cap also keeps Java's 6-bit shift masking (`x >> 64 == x` — the
    * x169 revival trap) permanently out of range.
    *
    * Zero-filled grid, not the sparse frame: absence is data — an
    * EWMA over only-busy-days never decays, and a feed that stopped
    * cold would look healthy forever. Days before the series start
    * contribute no term (the series begins at its first observed
    * day), so early days smooth over a shorter history — stated, not
    * hidden.
    *
    * Scale shape: one map-side-combinable (type, day) count; the
    * grid, the lag explode (×(L+1)) and the self-equi-join all run on
    * the dimension-sized day-count frame — types × days × lags, never
    * the event corpus. */
  def ewmaTrend(events: DataFrame, maxLookback: Int = 20): DataFrame = {
    require(maxLookback >= 0 && maxLookback <= 40,
      s"maxLookback $maxLookback out of [0, 40]")
    val daily = dailyCounts(events).filter(col("event_type").isNotNull)
      .withColumnRenamed("n", "c")
    val dense = daily.select(col("event_type")).distinct()
      .crossJoin(dayGrid(daily))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("c"), lit(0L)).as("c"))
    dense
      .select(col("event_type"), col("day"), col("c"),
        explode(typedLit((0 to maxLookback).toList)).as("j"))
      .withColumn("src_day", col("day") - col("j"))
      .join(dense.select(col("event_type"), col("day").as("src_day"),
        col("c").as("src_c")),
        Seq("event_type", "src_day"))
      .groupBy(col("event_type"), col("day"), col("c"))
      .agg(sum(expr("shiftright(src_c, j + 1)")).as("ewma"))
      .select(col("event_type"), col("day"), col("c").as("n_events"),
        col("ewma"))
  }

  /** BUCKET-OVER-BUCKET TOP-K CHURN — rank STABILITY, the audit
    * behind every "top suppliers/products" dashboard ("is this
    * leaderboard signal or noise? a set that reshuffles completely
    * every quarter is noise; one that never moves needs no
    * refresh"): per `bucketDays`-day shipping bucket, the top-k
    * suppliers by lineitem count under the (count desc, suppkey)
    * total order, then for every bucket with a PRESENT predecessor
    * the set overlap — carried members, new entrants, exact Jaccard
    * ppm. Gap buckets (no shipments at all) break the chain — a
    * comparison across a dark quarter is not week-over-week churn
    * (documented, not silently bridged).
    *
    * Scale shape: the only full-data stage is one map-side-combinable
    * (bucket, supplier) count; the rank window runs per bucket over
    * supplier-bounded groups with the WindowGroupLimit partial
    * pushdown, and everything after lives on the buckets×k frame
    * (checkpointed once — its two consumers join on shifted keys, so
    * ReuseExchange cannot dedupe the subtree). Integer-exact
    * throughout; denominator ≥ n_prev ≥ 1. */
  def topkChurn(
      lineitem: DataFrame, k: Int = 20, bucketDays: Long = 90L): DataFrame = {
    require(k >= 1, s"k $k must be positive")
    require(bucketDays >= 1, s"bucketDays $bucketDays must be positive")
    val us = "unix_micros(CAST(l_shipdate AS TIMESTAMP))"
    val top = lineitem.filter(col("l_shipdate").isNotNull)
      .select(expr(epochFloorDiv(us, bucketDays * 86400000000L)).as("bucket"),
        col("l_suppkey"))
      .groupBy(col("bucket"), col("l_suppkey"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("c").desc, col("l_suppkey"))))
      .filter(col("rnk") <= k)
      .select(col("bucket"), col("l_suppkey"))
      .localCheckpoint(true)
    val sizes = top.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val commons = top
      .join(top.select((col("bucket") + 1).as("bucket"), col("l_suppkey")),
        Seq("bucket", "l_suppkey"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_common"))
    sizes.select(col("bucket"), col("n").as("n_curr"))
      .join(sizes.select((col("bucket") + 1).as("bucket"),
        col("n").as("n_prev")), Seq("bucket"))
      .join(commons, Seq("bucket"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("bucket"), col("n_prev"), col("n_curr"), col("n_common"),
        (col("n_curr") - col("n_common")).as("n_new"),
        expr("1000000 * n_common DIV (n_prev + n_curr - n_common)")
          .as("jaccard_ppm"))
  }
}
