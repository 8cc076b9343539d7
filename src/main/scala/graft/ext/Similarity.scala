package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`array<float>`
  * vectors).
  *
  * Two paths, mirroring how a 100 TB deployment is actually built:
  *
  *   - [[cosTopK]] — the exact baseline: broadcast the (small) query
  *     set, stream the corpus once, keep top-k per query. Linear in the
  *     corpus, no shuffle of the corpus itself; the only exchange is the
  *     final top-k-per-query window over `corpus × |queries|` scored
  *     rows. This is the right plan whenever |queries| ≪ corpus.
  *   - [[ivfTopK]] — the scale path: IVF bucketing over a quantizer
  *     TRAINED with distributed Lloyd k-means ([[kmeansCentroids]]); a
  *     query probes only the `nprobe` nearest cluster centroids and
  *     scores vectors in those cells. Corpus scanned ≈ nprobe/k of the
  *     data; the centroid matrix is k×dim driver state (MLlib-shaped).
  *     Recall vs the exact baseline is asserted in tests (approximate by
  *     design, so its harness check is rows-only, not hash-equality).
  *
  * All arithmetic is double (floats widened first), computed with
  * higher-order functions inside codegen — no UDFs, no driver collect.
  */
object Similarity {

  /** Widen array<float> → array<double> once, so all downstream
    * arithmetic is double-precision. */
  private def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Native codegen'd vector ops (graft.functions.GraftFunctions). */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.vecDot(a, b)
  def norm(a: Column): Column = graft.functions.GraftFunctions.vecNorm(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k by cosine for every query vector (`vec_id % queryMod =
    * 0` picks the query set). Output is rank-based — (query_id,
    * neighbor_id, rank) — with a deterministic vec_id tiebreak, so the
    * result is stable under float round-off and safe to hash-compare.
    * Self-matches are excluded. */
  def cosTopK(emb: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame =
    cosTopKFor(emb, emb.filter(col("vec_id") % queryMod === 0), k)

  /** [[cosTopK]] over EXPLICIT corpus and query frames — the filtered-
    * search entry point: pre-filter the corpus on metadata (lang,
    * quality, source — the predicate composes as a plain semi-join
    * BEFORE any scoring, so filtered-out vectors are never even dotted)
    * and rank the survivors. Queries need not satisfy the filter. */
  def cosTopKFor(corpusVecs: DataFrame, queryVecs: DataFrame, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(corpusVecs.sparkSession)
    // norms precomputed once per vector — never recompute them per PAIR.
    // Zero-norm vectors are EXCLUDED by contract on every cosine path:
    // a zero vector has no direction, and the division throws under
    // ANSI (Spark 4 default) instead of yielding a quiet NaN.
    val queries = queryVecs
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
      .withColumn("nq", norm(col("q")))
      .filter(col("nq") > 0)
    val corpus = corpusVecs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q"), col("v")) / (col("nq") * col("nv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    topKPerQuery(scored, k)
  }

  /** Matryoshka truncation audit (the MRL deployment question,
    * Kusupati et al. 2022): for each query, how much of the
    * full-dimension exact top-k does a PREFIX-dimension search
    * recover? Per query: the full top-k ([[cosTopKFor]], the x3
    * baseline), the top-k over the first `dims` coordinates only, and
    * their overlap as exact counts + recall ppm — the measurement
    * that says whether serving can run on the cheap prefix.
    *
    * Determinism: both legs are rank-only under the (cos desc,
    * vec_id) total order; the overlap is a set intersection of two
    * deterministic rank sets — integers end to end, no float crosses
    * an aggregate. Vectors whose PREFIX is zero-norm drop out of the
    * prefix leg only (the cosine-path contract).
    *
    * Scale shape: the prefix leg is the point — at matryoshka-ordered
    * storage it scans `dims/D` of the bytes and does `dims/D` of the
    * multiplies, so the audit quantifies exactly what a prefix-first
    * candidates-then-verify pipeline would lose. Both legs here are
    * the declared exact brute force over a broadcast query set (the
    * x3 convention); the IVF/LSH indexes are the scale path for the
    * search itself. */
  def matryoshkaRecall(
      emb: DataFrame, dims: Int = 16, k: Int = 10,
      queryMod: Int = 50): DataFrame = {
    require(dims >= 1, s"prefix dims $dims must be positive")
    val queries = emb.filter(col("vec_id") % queryMod === 0)
    val full = cosTopKFor(emb, queries, k)
    val trunc = emb.select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("embedding"))
    val pref = cosTopKFor(trunc,
      trunc.filter(col("vec_id") % queryMod === 0), k)
    val overlap = full.select(col("query_id"), col("neighbor_id"))
      .join(pref.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    full.groupBy(col("query_id")).agg(count(lit(1)).as("n_full"))
      .join(pref.groupBy(col("query_id")).agg(count(lit(1)).as("n_prefix")),
        Seq("query_id"), "left")
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), col("n_full"),
        coalesce(col("n_prefix"), lit(0L)).as("n_prefix"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr("1000000 * n_overlap DIV n_full"))
  }

  /** Label-relevance MRR — the retrieval-eval harness row: per sampled
    * query, the rank of the FIRST same-label vector in the exact
    * full-corpus cosine ranking, and its reciprocal rank as the exact
    * integer `rr_ppm = 10⁶ div rank` (the mean over queries — MRR —
    * is then an integer-sum ratio the caller can take; nDCG's
    * irrational log discount is deliberately NOT offered: a float
    * sum across rows can never hash-gate, the x-series
    * determinism rule). A query with NO same-label partner reports
    * NULL rank / 0 rr (the honest no-evidence row, counted by
    * n_relevant = 0).
    *
    * Determinism: ranks carry the (cos desc, vec_id) total order of
    * the x3 family; rr is integral division of a rank. Zero-norm
    * vectors are excluded on every cosine path; NULL-label corpus
    * vectors occupy ranks but are never relevant.
    *
    * Scale shape: broadcast query set against one corpus scan (the
    * exact-baseline convention); the per-query ranking window is
    * bounded by the corpus per query, and at index scale the same
    * audit runs over the ANN candidates instead (rank-in-candidates
    * vs rank-exact is precisely the recall story x174 measures). */
  /** The (query_id, is_rel, rnk) frame every label-relevance eval row
    * ranks over — x180 MRR, x221 nDCG and the MAP row share it
    * verbatim: sampled non-NULL-label queries broadcast against one
    * corpus scan, exact cosine under the (cos desc, vec_id) total
    * order, zero-norm vectors excluded on both sides. */
  private def labelRanked(emb: DataFrame, queryMod: Int): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val queries = emb.filter(col("vec_id") % queryMod === 0 &&
        col("label").isNotNull)
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("q"), col("label").as("q_label"))
      .withColumn("nq", norm(col("q")))
      .filter(col("nq") > 0)
    val corpus = emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
    corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q"), col("v")) / (col("nq") * col("nv")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("query_id"),
        (col("label") <=> col("q_label")).as("is_rel"), col("rnk"))
  }

  def labelMrr(emb: DataFrame, queryMod: Int = 50): DataFrame = {
    labelRanked(emb, queryMod).groupBy(col("query_id"))
      .agg(
        sum(when(col("is_rel"), 1L).otherwise(0L)).as("n_relevant"),
        min(when(col("is_rel"), col("rnk"))).as("first_rel_rank"))
      .withColumn("rr_ppm", coalesce(
        expr("1000000 DIV first_rel_rank"), lit(0L)))
  }

  /** Rank discounts for [[ndcgAt10]] in exact micro-units: literal
    * `round(10⁶ / log₂(r+1))` for ranks 1..10 — fixed literals (the
    * x130 Benford convention: no float log at query time), the ONE
    * source both the Spark side and the generated DuckDB oracle
    * read. */
  val NdcgDiscountsPpm: Seq[Long] = Seq(1000000L, 630930L, 500000L,
    430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  /** nDCG@10 over the labeled-vector retrieval fixture — the graded
    * companion to [[labelMrr]] (MRR sees only the FIRST relevant hit;
    * nDCG credits every relevant hit in the top 10, discounted by
    * rank): per query, `dcg = Σ_{r≤10, relevant} D_r` with the fixed
    * integer discounts [[NdcgDiscountsPpm]], the ideal
    * `idcg = Σ_{r≤min(10, n_relevant)} D_r` (prefix sums of the same
    * literals), and `ndcg_ppm = 10⁶·dcg div idcg`. No float crosses
    * an aggregate: gains are 0/1, discounts are literals, the ratio
    * is one integral division. Ranking is the x3/x180 total order
    * (cos desc, vec_id); zero-relevant queries report 0, not NULL.
    *
    * Scale shape: the x180 shape exactly — queries broadcast against
    * the corpus, per-query rank windows inside query partitions, a
    * query-count-sized output. */
  def ndcgAt10(emb: DataFrame, queryMod: Int = 50): DataFrame = {
    val prefix: Seq[Long] =
      NdcgDiscountsPpm.scanLeft(0L)(_ + _) // prefix(k) = Σ first k
    labelRanked(emb, queryMod).groupBy(col("query_id"))
      .agg(
        sum(when(col("is_rel"), 1L).otherwise(0L)).as("n_relevant"),
        sum(when(col("is_rel") && col("rnk") <= 10,
          element_at(typedLit(NdcgDiscountsPpm.toList),
            col("rnk").cast("int"))).otherwise(0L)).as("dcg_micro"))
      .withColumn("idcg_micro", element_at(
        typedLit(prefix.toList),
        (least(col("n_relevant"), lit(10L)) + 1).cast("int")))
      .select(col("query_id"), col("n_relevant"), col("dcg_micro"),
        when(col("idcg_micro") > 0,
          expr("1000000 * dcg_micro DIV idcg_micro")).otherwise(lit(0L))
          .as("ndcg_ppm"))
  }

  /** Average precision @ 10 per query — the third face of the
    * retrieval-eval harness (x180 MRR sees only the first relevant
    * hit, x221 nDCG discounts by a fixed log curve; AP is the
    * ORDER-SENSITIVE precision integral the ranking literature
    * reports as MAP): per relevant hit at rank r ≤ 10, the precision
    * term `10⁶ · rel_count@r div r` (each term an independent
    * integral floor — the x144 sums-of-floors convention, stated),
    * summed and normalized by `min(n_relevant, 10)` in one more
    * integral division. Zero-relevant queries report 0 (the honest
    * no-evidence row). The mean over queries — MAP — is then an
    * integer-sum ratio the caller takes; no float ever crosses an
    * aggregate.
    *
    * Scale shape: the x180 shape plus ONE more window (the running
    * relevant count) on the SAME query partition key — the rank
    * window's exchange is reused, nothing new shuffles. */
  def mapAt10(emb: DataFrame, queryMod: Int = 50): DataFrame =
    labelRanked(emb, queryMod)
      .withColumn("rel_cnt", sum(when(col("is_rel"), 1L).otherwise(0L))
        .over(Window.partitionBy(col("query_id")).orderBy(col("rnk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("is_rel"), 1L).otherwise(0L)).as("n_relevant"),
        sum(when(col("is_rel") && col("rnk") <= 10, 1L).otherwise(0L))
          .as("n_rel_top10"),
        sum(when(col("is_rel") && col("rnk") <= 10,
          expr("1000000 * rel_cnt DIV rnk")).otherwise(0L)).as("ap_micro"))
      .select(col("query_id"), col("n_relevant"), col("n_rel_top10"),
        when(col("n_relevant") > 0,
          expr("ap_micro DIV least(n_relevant, 10L)")).otherwise(lit(0L))
          .as("ap_ppm"))

  /** Hard-negative mining over labeled vectors — the contrastive-
    * training data miner (Schroff et al. 2015's semi-hard mining is
    * the published ancestor): per sampled query, the nearest SAME-
    * label neighbor, the nearest DIFFERENT-label neighbor (the hard
    * negative), and the margin verdict `is_violated` — true when the
    * hard negative outranks the positive, i.e. the pair a metric-
    * learning batch most wants and a retrieval eval most fears. A
    * query whose label has no other member reports a NULL positive
    * and counts as violated (no in-class evidence); a corpus with no
    * other label reports a NULL negative and is not violated.
    *
    * Determinism: both cosines come from the SAME expression tree the
    * x3 family pins cross-engine (vec_dot/vec_norm ↔
    * list_dot_product), the two top-1 picks carry the (cos desc,
    * vec_id) total order, and the verdict compares two doubles each
    * engine computed identically — rank-and-compare only, no float
    * aggregation. Zero-norm vectors are excluded on every cosine path
    * (the [[cosTopKFor]] contract).
    *
    * Scale shape: queries are a config-bounded sample BROADCAST
    * against the corpus — one corpus scan, no corpus-side shuffle
    * before the rank-limit window (WindowGroupLimit bounds the
    * exchange to 2 rows per query per partition). The brute-force
    * scoring is the declared exact baseline, as everywhere in this
    * family; the IVF index is the scale path when queries grow. */
  def hardNegatives(emb: DataFrame, queryMod: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val labeled = emb.filter(col("label").isNotNull)
    val queries = labeled.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("q"), col("label").as("q_label"))
      .withColumn("nq", norm(col("q")))
      .filter(col("nq") > 0)
    val corpus = labeled
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q"), col("v")) / (col("nq") * col("nv")))
      .withColumn("is_same", col("label") === col("q_label"))
      .select(col("query_id"), col("vec_id"), col("cos"), col("is_same"))
    val w = Window.partitionBy(col("query_id"), col("is_same"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("query_id"))
      .agg(
        max(when(col("is_same"), col("vec_id"))).as("nn_same_id"),
        max(when(!col("is_same"), col("vec_id"))).as("nn_diff_id"),
        max(when(col("is_same"), col("cos"))).as("cs"),
        max(when(!col("is_same"), col("cos"))).as("cd"))
      .select(col("query_id"), col("nn_same_id"), col("nn_diff_id"),
        when(col("cd").isNull, lit(false))
          .when(col("cs").isNull, lit(true))
          .otherwise(col("cd") > col("cs")).as("is_violated"))
  }

  /** User-user collaborative-filtering neighbor retrieval: per user,
    * the top-k most-similar OTHER users by exact Jaccard over their
    * distinct interacted-item sets — the user-based CF neighbor table
    * a recommender's retrieval stage reads (the positive-side
    * companion to [[Assemble.negativeSamples]]' contrastive pairs).
    *
    * THE INVERTED INDEX IS THE CANDIDATE GENERATOR (the sparse-top-k
    * convention): candidate pairs come from the per-item equi-join,
    * so two users sharing no item are never paired — users × users is
    * never materialized. Intersections aggregate once per ORDERED
    * pair (u1 < u2) and mirror afterwards, halving the pair shuffle.
    * Jaccard is exact integer ppm — `10⁶·|A∩B| div (|A|+|B|−|A∩B|)`
    * (10⁶·inter stays far inside 2⁶³ for any real per-user item
    * count). Top-k per user under the (jppm desc, neighbor_id) total
    * order rides the WindowGroupLimit partial rank pushdown
    * ([[topKPerQuery]]'s story).
    *
    * Scale shape: the per-item fan-out is popularity²-bounded — the
    * classic skewed-key scale-killer when one head item is shared by
    * millions of users (popularity² pair rows through ONE shuffle
    * key). `maxItemDf` is the production ceiling (VERDICT r11 task
    * 2): items whose user count exceeds it are REMOVED from the
    * interaction sets — candidate generation AND the Jaccard
    * denominators, so the capped result is EXACTLY the Jaccard
    * top-k over the filtered interactions (a head item shared by
    * everyone carries no similarity signal anyway — the stop-word
    * argument). cap ≥ every item's df ⇒ bit-identical to uncapped
    * (spec-pinned), and the drop is REPORTED, never silent: read
    * [[headItems]] with the same ceiling for the (item_id, df) rows
    * the cap removed. None (the gate's mode) stays exact over the
    * full interaction set. */
  def jaccardUserTopK(
      interactions: DataFrame, k: Int = 5,
      maxItemDf: Option[Long] = None): DataFrame = {
    require(k > 0, s"top-k k $k must be positive")
    maxItemDf.foreach(c => require(c > 0, s"maxItemDf $c must be positive"))
    val uiAll = interactions
      .filter(col("user_id").isNotNull && col("item_id").isNotNull)
      .select(col("user_id"), col("item_id")).distinct()
    // the df filter rides ONE aggregate over the item key and
    // broadcast-anti-joins back (head items are FEW by definition —
    // a ceiling that keeps most items small keeps the drop list
    // driver-broadcastable); sizes are computed AFTER the drop so
    // denominators match the filtered sets (cap ≡ exact-on-filtered)
    val ui = maxItemDf match {
      case None => uiAll
      case Some(cap) =>
        uiAll.join(
          broadcast(uiAll.groupBy(col("item_id"))
            .agg(count(lit(1)).as("df")).filter(col("df") > cap)
            .select("item_id")),
          Seq("item_id"), "left_anti")
    }
    val sizes = ui.groupBy(col("user_id")).agg(count(lit(1)).as("n_items"))
    // the per-item self-join's fan-out (popularity² pair rows + the
    // partial pair-count aggregate) executes in the partitioning of
    // the interaction frame's exchange, which AQE coalesces to a
    // handful of byte-sized partitions (narrow 2-col rows) — the
    // candidate generation ran near-single-task at local[32] (r15
    // profile). Pin the join-side width to the session's shuffle
    // sizing (scale-adaptive conf; at cluster scale the exchange is
    // already this wide and the pin is a no-op). The join stays SMJ;
    // no broadcast path is displaced.
    val uiJ = ui.repartition(
      interactions.sparkSession.sessionState.conf.numShufflePartitions,
      col("item_id"))
    val inter = uiJ.as("a")
      .join(uiJ.as("b"), Seq("item_id"))
      .filter(col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("u1"), col("b.user_id").as("u2"))
      .agg(count(lit(1)).as("inter"))
    val both = inter.unionByName(inter.select(
      col("u2").as("u1"), col("u1").as("u2"), col("inter")))
    val scored = both
      .join(sizes.select(col("user_id").as("u1"), col("n_items").as("n1")),
        Seq("u1"))
      .join(sizes.select(col("user_id").as("u2"), col("n_items").as("n2")),
        Seq("u2"))
      .withColumn("jppm", expr("1000000 * inter DIV (n1 + n2 - inter)"))
    val w = Window.partitionBy(col("u1"))
      .orderBy(col("jppm").desc, col("u2"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("u1").as("user_id"), col("u2").as("neighbor_id"),
        col("inter"), col("jppm"), col("rank"))
  }

  /** The drop REPORT for [[jaccardUserTopK]]'s `maxItemDf` ceiling
    * (the no-silent-caps rule): every item whose distinct-user count
    * exceeds the ceiling, with its df and the interaction volume the
    * cap removes — what an operator reviews before (or after) turning
    * the knob on. One aggregate over the item key; empty ⇔ the capped
    * and uncapped results are identical. */
  def headItems(interactions: DataFrame, maxItemDf: Long): DataFrame = {
    require(maxItemDf > 0, s"maxItemDf $maxItemDf must be positive")
    interactions
      .filter(col("user_id").isNotNull && col("item_id").isNotNull)
      .select(col("user_id"), col("item_id")).distinct()
      .groupBy(col("item_id")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxItemDf)
      .select(col("item_id"), col("df"),
        (col("df") * col("df")).as("pair_rows_avoided"))
  }

  /** Embedding isotropy audit per label — the geometry QC next to
    * centroids (X103) and outliers (X105): anisotropic embeddings
    * (every vector leaning along one direction — the known failure
    * mode of contrastive collapse and of un-centered encoder output)
    * break cosine retrieval long before any individual vector looks
    * wrong, and the tell is the MEAN PAIRWISE DOT sitting far above 0
    * relative to the mean squared norm. Exact integers end to end:
    * coordinates quantize by the shared `floor(x·10⁶ + 0.5)` idiom,
    * per-dimension sums give `Σᵢ≠ⱼ qᵢ·qⱼ = Σ_d S_d² − Σᵢ‖qᵢ‖²`
    * (the sum-vector identity — no pair is ever materialized), and
    * the two report columns are `Σ‖q‖² div n` and the sign-DECOMPOSED
    * `(Σ_d S_d² − Σ‖q‖²) div n(n−1)` (pair dots go negative; X142).
    * Their ratio read off the row is the isotropy score (≈0
    * isotropic, →avg_norm2 collapsed). Single-vector labels have no
    * pairs — NULL, not 0 (0 claims perfect isotropy). Quantization
    * bias is bounded by 2ε·E|q|·dims ≈ 10⁻⁶ of the metric — audit
    * precision, stated not hidden.
    *
    * Scale shape: one explode to (label, dim) — the only corpus-scale
    * stage, map-side combinable — then label-domain aggregates;
    * moments in DECIMAL(38,0) ↔ HUGEINT (S_d² reaches 10²⁴ at 10⁶
    * same-label vectors, ×4096 dims still inside 10³⁸). No pairwise
    * join anywhere: the identity IS the scale story. */
  def isotropyAudit(emb: DataFrame): DataFrame = {
    val q = emb
      .filter(col("label").isNotNull && col("embedding").isNotNull)
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("vec_id"), col("dim"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)")
          .as("qv"))
    val dims = q.groupBy(col("label"), col("dim"))
      .agg(sum(expr("CAST(qv AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(qv AS DECIMAL(38,0)) * qv")).as("ss"))
    val perLabel = dims.groupBy(col("label"))
      .agg(sum(expr("s * s")).as("s2"), sum(col("ss")).as("norms"),
        (count(lit(1))).as("n_dims"))
    val counts = emb
      .filter(col("label").isNotNull && col("embedding").isNotNull)
      .groupBy(col("label")).agg(count(lit(1)).as("n_vectors"))
    perLabel.join(counts, Seq("label"))
      .select(col("label"), col("n_vectors"), col("n_dims"),
        expr("CAST(norms DIV n_vectors AS BIGINT)").as("avg_norm2"),
        when(col("n_vectors") < 2, lit(null).cast("long"))
          .otherwise(expr(
            // divisor staged through DECIMAL (n(n−1) passes BIGINT
            // at n ≈ 3·10⁹ — the wasserstein lesson)
            "CAST(CASE WHEN s2 - norms >= 0 THEN " +
              "(s2 - norms) DIV (CAST(n_vectors AS DECIMAL(38,0)) " +
              "* (n_vectors - 1)) " +
              "ELSE -((norms - s2) DIV (CAST(n_vectors AS DECIMAL(38,0)) " +
              "* (n_vectors - 1))) END AS BIGINT)"))
          .as("avg_pair_dot"))
  }

  /** Mutual-nearest-neighbor pair mining within label blocks: the
    * pairs (a, b) where b is a's exact cosine top-1 AND a is b's —
    * the alignment/bitext-mining primitive (a mutual-kNN consistency
    * filter keeps only reciprocal matches, dropping hubs that are
    * "nearest" to everything), next to [[hardNegatives]]' violation
    * audit. Blocked by `label`: each vector's candidate set is its
    * own block — the same candidates-then-verify shape the IVF cell
    * and LSH bucket paths use at scale (a production run blocks by
    * cell/bucket; the label block keeps the DuckDB oracle exactly
    * reproducible). Rank-only output under the (cos desc, vec_id)
    * total order; the canonical a < b orientation emits each mutual
    * pair once. Zero-norm and NULL-label vectors are out by the
    * cosine-path contract. */
  def mutualTopPairs(emb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val v = emb.filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
    val scored = v.as("a")
      .join(v.as("b"), col("a.label") === col("b.label") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("cos",
        dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        col("a.label").as("label"), col("cos"))
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val top1 = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src"), col("dst"), col("label"))
    top1.as("x").join(top1.as("y"),
        col("x.dst") === col("y.src") && col("y.dst") === col("x.src") &&
          col("x.src") < col("y.src"))
      .select(col("x.src").as("a_id"), col("x.dst").as("b_id"),
        col("x.label").as("label"))
  }

  /** Exact top-k per query with a BOUNDED pre-rank shuffle.
    *
    * Declared as the plain row_number window + rank filter — and that
    * is the whole optimization: Catalyst rewrites `row_number() ≤ k`
    * into a WindowGroupLimit with a PARTIAL stage below the exchange
    * (rank-limit pushdown, SPARK-37099), so each input partition
    * reduces to its local top-k per query inside whole-stage codegen
    * before anything shuffles. The exchange carries ≈ k·partitions rows
    * per query instead of all |corpus|×|queries| scored rows — the
    * round-3 audit's one remaining plan hazard, closed by the engine
    * itself. A hand-rolled sortWithinPartitions+mapPartitions local
    * top-k was measured here and REJECTED: it duplicates the partial
    * WindowGroupLimit while adding an object serde round-trip that
    * breaks codegen.
    *
    * The bounded behavior is pinned by a ShuffleExchangeExec-metrics
    * test (ExtSpec), so a config/regression that disables the rewrite
    * (e.g. spark.sql.optimizer.windowGroupLimitThreshold) is caught. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** splitmix64 — a deterministic driver-side pseudo-random stream for
    * hyperplane components (public-domain mixer constants). */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The whole deterministic ±1 (Rademacher) hyperplane family as ONE
    * flat literal array laid out [table][plane][dim] — tiny driver state
    * (tables×planes×dim doubles), consumed in a single pass by the
    * codegen'd sign_lsh expression. One Literal node total: composing
    * per-plane vec_dot columns instead put hundreds of generated loops
    * into the projection and codegen compile time dominated the query. */
  private def hyperplaneFamily(tables: Int, planes: Int, dim: Int): Column =
    typedLit((0 until tables).flatMap { t =>
      (0 until planes).flatMap { p =>
        (0 until dim).map { d =>
          if ((splitmix64((t.toLong * 131 + p) * 65537 + d) & 1L) == 1L) 1.0
          else -1.0
        }
      }
    })

  /** Default LSH geometry: recall ≈ 0.997 at cos 0.9, random-pair
    * candidate rate ≈ 2.3% (see [[embedNeardup]]). One definition so the
    * cap report can never audit a different join than the one run. */
  val DefaultPlanes = 10
  val DefaultTables = 24

  /** Embedding near-duplicate pairs: cosine ≥ `threshold`, found via
    * OR-amplified random-hyperplane LSH — `tables` independent hash
    * tables of `planes` sign bits each; a pair is a candidate when it
    * shares ANY table's bucket, then exact cosine verifies (so PRECISION
    * is exact regardless of LSH luck; only recall is probabilistic).
    *
    * Recall at cosine c is 1 − (1 − (1 − acos(c)/π)^planes)^tables: a
    * single 8-plane table misses ~70% of borderline cos-0.9 pairs, which
    * is why the defaults are (planes=10, tables=24) → recall ≈ 0.997 at
    * 0.9 and ≈ 1 for near-identical vectors. Random unrelated pairs
    * collide per table with prob ~2⁻ᵖˡᵃⁿᵉˢ, so candidate volume stays
    * ~2.3% of all-pairs at the defaults — raise `planes` (and `tables`
    * with it) to sharpen selectivity on larger corpora.
    *
    * Scale shape: the banded frame is narrow (vec_id, tbl, bucket) —
    * vectors are NOT carried through the explode or the candidate join;
    * pairs are deduped before the verify re-join fetches both vectors.
    * Buckets above `maxBucket` are dropped ([[BucketCap]]) so one dense
    * cell can never turn the candidate join quadratic;
    * [[embedNeardupCapReport]] lists what was dropped.
    *
    * The frame is signed once, the [[SignLshIndex]] family's signing
    * (per-row dim guard under the first vector's dim included), and the
    * pair set returns materialized. */
  def embedNeardup(
      emb: DataFrame,
      threshold: Double = 0.9,
      planes: Int = DefaultPlanes,
      tables: Int = DefaultTables,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    // an empty corpus short-circuits to an empty pair set through the
    // plan itself — the placeholder dim is never applied to a row
    val dim = firstDim(nonZero(emb)).getOrElse(1)
    NeardupIndex.using(new LshSignatures(emb, (planes, tables, dim), "embedNeardup", maxBucket))(
      _.pairs(threshold))
  }

  /** Dropped-bucket report for [[embedNeardup]]'s cap (tbl, bucket,
    * bucket_size). */
  def embedNeardupCapReport(
      emb: DataFrame, planes: Int = DefaultPlanes, tables: Int = DefaultTables,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    BucketCap.droppedReport(
      signBands(v.withColumn("buckets", signBuckets(planes, tables, firstDim(v).getOrElse(1)))),
      Seq("tbl", "bucket"), maxBucket)
  }

  /** A `v` column's bucket ids: bucket t = the `planes` sign bits of
    * table t's hyperplane projections, packed into an int — all tables
    * computed by one sign_lsh evaluation per row. `dim` is the
    * hyperplane family's dimensionality — the CALLER owns it, because
    * an index probe must band under the INDEX's dim, never the
    * batch's. */
  private def signBuckets(planes: Int, tables: Int, dim: Int): Column =
    graft.functions.GraftFunctions.signLsh(
      col("v"), hyperplaneFamily(tables, planes, dim), lit(planes), lit(dim))

  /** Narrow (vec_id, tbl, bucket) rows of a frame's `buckets` column. */
  private def signBands(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(col("buckets")).as(Seq("tbl", "bucket")))

  /** One embedding frame signed under a sign-LSH geometry (planes,
    * tables, dim) — the [[SignLshIndex]] family's signed batch: the
    * non-zero vectors (vec_id, v, nv) under the per-row dim guard named
    * `op`, with their bucket ids, in ONE persisted frame that the
    * within-batch verify, the probe and the index frames all read.
    * `maxBucket` is the [[BucketCap]] of both candidate joins; every
    * candidate is verified by exact cosine, so precision is exact
    * regardless of LSH luck. */
  private final class LshSignatures(
      emb: DataFrame, g: (Int, Int, Int), op: String, maxBucket: Int)
      extends NeardupIndex.Signed[Double] {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    private val signed = {
      val (planes, tables, dim) = g
      nonZero(emb).withColumn("v", dimGuard(dim, op))
        .withColumn("buckets", signBuckets(planes, tables, dim))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

    def pairs(threshold: Double): DataFrame = {
      val kept = BucketCap.keepSmall(signBands(signed), Seq("tbl", "bucket"), maxBucket)
      verify(kept.select(col("tbl"), col("bucket"), col("vec_id").as("a_id"))
        .join(kept.select(col("tbl"), col("bucket"), col("vec_id").as("b_id")),
          Seq("tbl", "bucket"))
        .filter(col("a_id") < col("b_id")), signed, threshold)
    }

    /** Candidates are band-bucket collisions between the batch's bands
      * (broadcast — the incremental contract is |batch| ≪ |corpus|) and
      * the stored bands under the cap, verified against the stored
      * vectors. */
    def against(writer: graft.sinks.StagingWriter, table: String, threshold: Double): DataFrame = {
      val stored = BucketCap.keepSmall(
        writer.read(s"${table}__embbands"), Seq("tbl", "bucket"), maxBucket)
      verify(stored.select(col("tbl"), col("bucket"), col("vec_id").as("a_id"))
        .join(broadcast(signBands(signed)
          .select(col("tbl"), col("bucket"), col("vec_id").as("b_id"))),
          Seq("tbl", "bucket")), writer.read(s"${table}__vecs"), threshold)
    }

    /** (a_id, b_id) candidates, deduped before the verify re-join
      * fetches both vectors — the a side's from `a`, the b side's from
      * this batch — kept at cosine ≥ `threshold`, materialized. */
    private def verify(cand: DataFrame, a: DataFrame, threshold: Double): DataFrame =
      cand.select("a_id", "b_id").distinct()
        .join(a.select(col("vec_id").as("a_id"), col("v").as("va"), col("nv").as("na")), "a_id")
        .join(signed.select(col("vec_id").as("b_id"), col("v").as("vb"), col("nv").as("nb")),
          "b_id")
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= threshold)
        .select(col("a_id"), col("b_id"))
        .localCheckpoint(true)

    def frames(keep: Option[DataFrame]): GrowingIndex.Frames = emit => {
      val rows = keep.fold(signed)(k =>
        signed.join(k.select(col("vec_id")), Seq("vec_id"), "left_semi"))
      emit(rows.select(col("vec_id"), col("v"), col("nv")))
      emit(signBands(rows))
    }

    def release(): Unit = signed.unpersist(blocking = false): Unit
  }

  /** Dimensionality of the first vector in a `v`-column frame; None on
    * an empty frame (take(1), so the empty case never throws). */
  private def firstDim(v: DataFrame): Option[Int] =
    v.select(size(col("v"))).take(1).headOption.map(_.getInt(0))

  /** The POSITIONAL index (into `cents`) of the nearest centroid (L2)
    * for each row's `v` column — centroids ride along as literal arrays
    * (k×dim doubles: broadcast-sized driver state, the same shape MLlib
    * keeps), distances via the codegen'd vec_dot. First-minimum ties are
    * deterministic. Callers must label probe cells by the SAME position
    * (a Lloyd iteration can leave a cluster empty, making stored cell
    * ids non-contiguous — positions stay consistent). */
  private def nearestCell(cents: Seq[(Int, Array[Double])]): Column = {
    val dists = array(cents.map { case (_, c) =>
      // ||x-c||² = ||x||² − 2x·c + ||c||²; ||x||² constant per row — rank
      // by −2x·c + ||c||² only. typedLit: one Literal node per centroid.
      lit(-2.0) * graft.functions.GraftFunctions.vecDot(col("v"), typedLit(c.toSeq)) +
        lit(c.map(x => x * x).sum)
    }: _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Embedding dimensionality, read from the first vector. */
  private def dimOf(emb: DataFrame): Int =
    emb.select(size(col("embedding"))).head().getInt(0)

  /** Distributed Lloyd k-means over the embedding column: assignment and
    * per-cluster sums are full Spark jobs (map-side-combinable
    * aggregates); only the k×dim centroid matrix ever reaches the driver
    * (one collect per iteration — how MLlib's KMeans works too, so the
    * corpus side scales arbitrarily). Deterministic: init = first k
    * vectors by vec_id, exact integer counts, double sums of a fixed
    * per-cluster set (order within a cluster's sum is partition-order —
    * k-means is used as a QUANTIZER here, where centroid last-bit
    * wobble is harmless; nothing oracle-checked consumes these floats).
    * Returns the k (cell, centroid) pairs.
    *
    * Default iters=2: on the fixture (unclustered gaussian) recall is
    * flat from 1 to 3 iterations (0.69/0.68/0.66 measured) — clustered
    * production embeddings warrant more. */
  def kmeansCentroids(emb: DataFrame, k: Int = 10, iters: Int = 2): Seq[(Int, Array[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val dim = dimOf(emb)

    var cents: Seq[(Int, Array[Double])] = corpus
      .orderBy(col("vec_id")).limit(k)
      .select(col("v")).as[Seq[Double]].collect()
      .zipWithIndex.map { case (v, i) => (i, v.toArray) }.toSeq

    for (_ <- 0 until iters) {
      val sums = (0 until dim).map(d =>
        sum(element_at(col("v"), d + 1)).as(s"s$d"))
      cents = corpus
        .withColumn("cell", nearestCell(cents))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .collect()
        .map { r =>
          val cell = r.getAs[Int]("cell")
          val cnt = r.getAs[Long]("cnt").toDouble
          cell -> (0 until dim).map(d => r.getAs[Double](s"s$d") / cnt).toArray
        }.toSeq.sortBy(_._1)
    }
    cents
  }

  /** Per-query probe-cell scores as one array-of-struct expression over
    * the k (tiny) centroid literals — consumed as `explode(slice(
    * reverse(array_sort(..)), 1, nprobe))`. Cells are labeled by
    * POSITION in `cents` — the same labeling [[nearestCell]] gives the
    * corpus (stored ids may be non-contiguous after an empty Lloyd
    * cluster). Expects query columns `q` (double vec) and `nq` (norm). */
  private def cellScores(cents: Seq[(Int, Array[Double])]): Column =
    array(cents.zipWithIndex.map { case ((_, c), pos) =>
      val cNorm = math.sqrt(c.map(x => x * x).sum)
      struct(
        (graft.functions.GraftFunctions.vecDot(col("q"), typedLit(c.toSeq)) /
          (col("nq") * lit(cNorm))).as("s"),
        lit(pos).as("cell"))
    }: _*)

  /** Query set (`vec_id % queryMod = 0`) with its per-query probe cells
    * exploded: (query_id, q, nq, cell), one row per probed cell. */
  /** (query_id, q, nq, cell) rows: each query vector exploded to its
    * `nprobe` nearest centroids. `queryVecs` is the SMALL external
    * query set (same contract that lets it broadcast). */
  private def probeQueriesFor(
      queryVecs: DataFrame, nprobe: Int,
      cents: Seq[(Int, Array[Double])]): DataFrame =
    queryVecs
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
      .withColumn("nq", norm(col("q")))
      .filter(col("nq") > 0) // zero queries: no direction, ANSI div guard
      .withColumn("probe", explode(slice(reverse(array_sort(cellScores(cents))), 1, nprobe)))
      .select(col("query_id"), col("q"), col("nq"), col("probe.cell").as("cell"))

  private def probeQueries(
      emb: DataFrame, queryMod: Int, nprobe: Int,
      cents: Seq[(Int, Array[Double])]): DataFrame =
    probeQueriesFor(emb.filter(col("vec_id") % queryMod === 0), nprobe, cents)

  /** IVF approximate top-k over a TRAINED coarse quantizer
    * ([[kmeansCentroids]]): the corpus is assigned to its nearest cell
    * (one codegen'd pass — [[IvfIndex]] is the ingest-time path
    * that writes this assignment once, partitioned by cell), each query
    * probes the `nprobe` nearest cluster centroids, and only those
    * cells are scored. Corpus scanned ≈ nprobe/cells of the data;
    * approximate by design. */
  def ivfTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 50,
      nprobe: Int = 3,
      cells: Int = 10,
      iters: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val cents = kmeansCentroids(emb, cells, iters)
    val queries = probeQueries(emb, queryMod, nprobe, cents)

    // score only the probed cells: corpus join on the cell id
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cell", nearestCell(cents))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
    val scored = corpus
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q"), col("v")) / (col("nq") * col("nv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    topKPerQuery(scored, k)
  }

  /** Ingest-time IVF index ([[GrowingIndex]]; closes round-3 "What's
    * missing #4"): a build trains the coarse quantizer once
    * ([[kmeansCentroids]] at `cells`/`iters`), writes the k×dim
    * centroid matrix as the `<table>__centroids` sidecar, then assigns
    * every corpus vector to its nearest cell and writes the corpus
    * PARTITIONED BY cell — so [[ivfTopKIndexed]] probes without
    * retraining or reassigning. At 100 TB this turns every probe
    * query's corpus scan into a planning-time directory prune: only
    * ~nprobe/cells of the files are even listed, the rest never open
    * (proven by the PartitionFilters + numFiles test).
    *
    * An append ([[GrowingIndex.append]]) assigns the batch to the STORED
    * centroids ([[readIvfCentroids]], the probe's own view) and appends
    * into the cell partitions, under the per-row dim guard. The
    * quantizer is NEVER retrained by an append: cell ids must stay
    * stable or every stored assignment and the probe's partition
    * filter go stale. Re-centering is [[GrowingIndex.rebuild]] over the
    * stored rows (`writer.read(table)`), optionally at a new cell
    * count. The cells and the sidecar are two directories and cannot
    * swap as one: a probe interleaved with the swaps (or a crash
    * between them) prunes under the wrong quantizer and loses recall,
    * so run it in the index's maintenance window — the standard IVF
    * retrain contract; rerunning the rebuild repairs a half-swapped
    * state. */
  final case class IvfIndex(cells: Int = 10, iters: Int = 2) extends GrowingIndex {
    type Geometry = Seq[(Int, Array[Double])]
    val artifacts = Seq("")
    override val sidecar = Some("__centroids")
    override val partitionCol = Some("cell")

    protected def fit(emb: DataFrame): Option[Geometry] =
      Some(kmeansCentroids(emb, cells, iters))

    protected def readGeometry(writer: graft.sinks.StagingWriter, table: String): Geometry =
      readIvfCentroids(writer, table)

    protected def geometryFrame(emb: DataFrame, cents: Geometry): DataFrame = {
      val spark = emb.sparkSession
      import spark.implicits._
      cents.map { case (cell, c) => (cell, c.toSeq) }.toDF("cell", "centroid")
    }

    protected def frames(emb: DataFrame, cents: Geometry)(emit: DataFrame => Unit): Unit = {
      require(cents.nonEmpty, "IvfIndex: no centroids")
      // the centroids enter the plan only as collected typedLit
      // literals, so registering on the batch's session suffices
      graft.functions.GraftFunctions.register(emb.sparkSession)
      emit(emb.select(col("vec_id"), col("embedding"))
        .withColumn("v", asDouble(col("embedding")))
        .withColumn("v", dimGuard(cents.head._2.length, "IvfIndex"))
        .withColumn("cell", nearestCell(cents))
        .drop("v")) // store original float vectors; widen again at read
    }
  }

  /** Centroid matrix of an ingest-time index — k×dim driver state, the
    * same shape [[kmeansCentroids]] returns. */
  def readIvfCentroids(
      writer: graft.sinks.StagingWriter, table: String): Seq[(Int, Array[Double])] =
    writer.read(s"${table}__centroids").collect()
      .map(r => r.getAs[Int]("cell") -> r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      .toSeq.sortBy(_._1)

  /** IVF top-k over an ingest-time index ([[IvfIndex]]): the same
    * probe/score/rank plan as [[ivfTopK]], except cell assignment is
    * READ (never recomputed) and the union of all probed cells becomes
    * a static IN-filter on the index table's partition column — pruned
    * at PLANNING time, so non-probed cells' files are never listed or
    * opened. The probed-cell union is collected driver-side: |queries|
    * is small by the operator's contract (the same assumption that lets
    * the query set broadcast). */
  def ivfTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      writer: graft.sinks.StagingWriter,
      table: String,
      k: Int = 5,
      queryMod: Int = 50,
      nprobe: Int = 3): DataFrame =
    // fixture-harness convenience: the query set is carved out of the
    // index itself, which costs ONE column-pruned scan of the index on
    // the query side (vec_id % mod cannot partition-prune). Production
    // callers hold their query vectors externally — use
    // [[ivfTopKIndexedFor]], where nothing reads beyond probed cells.
    ivfTopKIndexedFor(spark, writer, table,
      writer.read(table).filter(col("vec_id") % queryMod === 0)
        .select(col("vec_id"), col("embedding")),
      k, nprobe)

  /** [[ivfTopKIndexed]] with an EXPLICIT query set — the production
    * entry point: `queryVecs` (vec_id, embedding) is the small external
    * query frame, so the only index read is the corpus scan itself,
    * planning-time pruned to the probed cells. */
  def ivfTopKIndexedFor(
      spark: org.apache.spark.sql.SparkSession,
      writer: graft.sinks.StagingWriter,
      table: String,
      queryVecs: DataFrame,
      k: Int = 5,
      nprobe: Int = 3): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val cents = readIvfCentroids(writer, table)
    val queries = probeQueriesFor(queryVecs, nprobe, cents)
    val probedCells = queries.select(col("cell")).distinct().as[Int].collect().sorted
    val corpus = writer.read(table)
      .filter(col("cell").isin(probedCells.toIndexedSeq.map(Integer.valueOf): _*))
      .select(col("vec_id"), col("cell"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
    val scored = corpus
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q"), col("v")) / (col("nq") * col("nv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    topKPerQuery(scored, k)
  }

  /** Johnson–Lindenstrauss random projection — the dimensionality leg
    * of the embedding-ops family (int8 quantization cuts bytes/element,
    * this cuts ELEMENTS): project to `outDim` dims with a deterministic
    * Rademacher (±1/√outDim) matrix, preserving inner products in
    * expectation with distortion ~1/√outDim (Achlioptas 2003 — ±1
    * entries suffice, no gaussians needed). At 100 TB this runs before
    * LSH/IVF so every downstream distance costs outDim multiplies, and
    * the matrix is derived from splitmix64, so it never ships: any
    * executor, any run, any cluster rebuilds bit-identical planes.
    *
    * Per-row compute: outDim codegen'd vec_dot nodes over typedLit
    * plane literals — dozens of nodes is fine (the SignLshBuckets
    * lesson applies at hundreds). Approximate by design → rows-only in
    * the gate; determinism, output geometry, planted-pair cosine
    * preservation, and per-vector norm-ratio bounds are pinned in
    * spec. */
  def randomProject(emb: DataFrame, outDim: Int = 16): DataFrame = {
    require(outDim >= 1, s"output dimension $outDim must be at least 1")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // empty-safe like the LSH paths: dim only shapes the plane literals,
    // and an empty input yields an empty output for any dim
    val dim = firstDim(v).getOrElse(1)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val planes = (0 until outDim).map { j =>
      typedLit((0 until dim).map { d =>
        // seed multipliers start at 1e6+3: the sign-LSH family uses
        // (t*131 + p)*65537 + d with t*131+p < ~3.2e3, so the two
        // streams can never share a multiplier — the projection and
        // any downstream LSH use genuinely independent hyperplanes
        if ((splitmix64((j.toLong * 7919 + 1000003L) * 65537 + d) & 1L) == 1L) scale
        else -scale
      })
    }
    v.select(col("vec_id"),
      array(planes.map(p => dot(col("v"), p)): _*).as("proj"))
  }

  /** Gate-facing form of [[randomProject]]: pins every element of the
    * projected vector into SCALARS (the x28 quantize convention —
    * `Similarity.quantizeInt8`'s md5-over-joined-elements idiom), so the
    * correctness driver's pandas canonicalizer never sees a raw
    * `array<double>` column (it cannot sort/hash one). The md5 runs over
    * a FIXED-FORMAT rendering (format_number-free: Spark's default
    * double→string is deterministic per value, and the gate row is
    * rows-only, so the hash needs run-to-run determinism, not
    * cross-engine equality); norm/min/max pin the geometry coarsely and
    * human-readably. In-engine consumers keep the raw-array API. */
  def randomProjectPinned(emb: DataFrame, outDim: Int = 16): DataFrame =
    randomProject(emb, outDim).select(
      col("vec_id"),
      md5(concat_ws(",", transform(col("proj"), _.cast("string")))).as("proj_hash"),
      sqrt(aggregate(col("proj"), lit(0.0), (acc, x) => acc + x * x)).as("proj_norm"),
      array_min(col("proj")).as("proj_min"),
      array_max(col("proj")).as("proj_max"))

  /** Ingest-time sign-LSH index for embedding near-dup
    * ([[GrowingIndex]]) — the embedding sibling of
    * [[Dedup.MinhashIndex]]: persists the normalized vectors and the
    * banded (vec_id, tbl, bucket) rows (`__embbands` last — the gate),
    * under a geometry sidecar `__lshmeta` (planes, tables, dim). The
    * probe MUST band with the exact same hyperplane family, so the
    * geometry is stored with the index rather than trusted to the
    * caller: `planes`/`tables` shape only a build or the streaming
    * bootstrap, and growth bands under the sidecar with the per-row dim
    * guard (mixed hyperplane families silently miss everything). A
    * streaming tick signs its batch once under that geometry, so its
    * within-batch pairs band under the stored (planes, tables, dim)
    * too. Zero-norm vectors are excluded by the similarity contract.
    * At 100 TB the index is the linear byproduct of the first dedup
    * pass; re-banding the corpus per ingest tick would re-pay the full
    * corpus scan. */
  final case class SignLshIndex(planes: Int = DefaultPlanes, tables: Int = DefaultTables)
      extends NeardupIndex[Double] {
    type Geometry = (Int, Int, Int)
    val artifacts = Seq("__vecs", "__embbands")
    override val sidecar = Some("__lshmeta")
    val idCol = "vec_id"
    val defaultThreshold = 0.9

    protected def fit(emb: DataFrame): Option[Geometry] = {
      graft.functions.GraftFunctions.register(emb.sparkSession)
      firstDim(nonZero(emb)).map(dim => (planes, tables, dim))
    }

    protected def readGeometry(writer: graft.sinks.StagingWriter, table: String): Geometry =
      lshGeometry(writer, table)

    protected def geometryFrame(emb: DataFrame, g: Geometry): DataFrame = {
      val spark = emb.sparkSession
      import spark.implicits._
      Seq(g).toDF("planes", "tables", "dim")
    }

    protected def sign(emb: DataFrame, g: Geometry): NeardupIndex.Signed[Double] =
      new LshSignatures(emb, g, "SignLshIndex", Dedup.DefaultMaxBucket)
  }

  /** (vec_id, v, nv) over the non-zero vectors: zero vectors have no
    * direction (and would divide by zero under ANSI). */
  private def nonZero(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)

  /** The `v` column checked against the index dim PER ROW. A dimension
    * mismatch (embedding-model upgrade) must fail LOUDLY, named by `op`:
    * banding or assigning a d'-dim batch under a d-dim index silently
    * projects on the prefix. The guard rides the job that consumes the
    * rows — a firstDim probe alone would pass a partially-upgraded
    * (mixed-dim) batch and silently mis-key the off-dim tail. */
  private def dimGuard(dim: Int, op: String): Column =
    when(size(col("v")) === lit(dim), col("v"))
      .otherwise(raise_error(concat(lit(s"$op: batch vector dim "),
        size(col("v")).cast("string"), lit(s" != index dim $dim"))))

  /** The (planes, tables, dim) sidecar of a [[SignLshIndex]]. The index
    * frames carry the WRITER's session — under foreachBatch that is the
    * outer session, not the micro-batch clone, and joins led by an
    * index frame resolve new columns with ITS analyzer — so the vector
    * functions are registered there too. */
  private def lshGeometry(
      writer: graft.sinks.StagingWriter, table: String): (Int, Int, Int) = {
    val metaDf = writer.read(s"${table}__lshmeta")
    graft.functions.GraftFunctions.register(metaDf.sparkSession)
    val m = metaDf.head()
    (m.getAs[Int]("planes"), m.getAs[Int]("tables"), m.getAs[Int]("dim"))
  }

  /** Incremental embedding near-dup: pairs (a_id = indexed corpus
    * vector, b_id = new batch vector) at cosine ≥ `threshold`, computed
    * against a [[SignLshIndex]] artifact. Only the NEW batch is signed
    * ([[LshSignatures.against]]), under the geometry read from the
    * index sidecar — a probe banded under different hyperplanes would
    * silently miss everything — and a batch vector off the index dim
    * fails the guard named `embedNeardupAgainstIndex(<table>)`.
    * Within-batch pairs are NOT emitted — run [[embedNeardup]] on the
    * batch for those. An empty batch (the routine no-new-data tick)
    * flows through to an empty result. */
  def embedNeardupAgainstIndex(
      newEmb: DataFrame,
      writer: graft.sinks.StagingWriter,
      table: String,
      threshold: Double = 0.9,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    NeardupIndex.using(new LshSignatures(newEmb, lshGeometry(writer, table),
      s"embedNeardupAgainstIndex($table)", maxBucket))(_.against(writer, table, threshold))

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning via
    * cluster-then-compare — embeddings are assigned to a coarse k-means
    * cell ([[kmeansCentroids]], the same quantizer IVF uses) and the
    * pairwise-cosine check runs WITHIN cells only; a vector is pruned
    * when a same-cell vector with a SMALLER vec_id sits at cosine ≥
    * `threshold` (the same lowest-id-survives keeper rule the MinHash
    * prep pipeline applies, so "kept" is a function of the data alone,
    * not of traversal order). Cross-cell near-dup pairs are missed by
    * design — that is SemDeDup's recall trade, bought so the quadratic
    * step is bounded by the CELL, never the corpus.
    *
    * Scale shape: clustering cost is [[kmeansCentroids]]'s (corpus
    * scans + k×dim driver state); the self-join shuffles narrow
    * (cell, id, vec) rows on the cell key and is quadratic in cell
    * size — at 100 TB, `cells` must grow with the corpus to hold
    * cell size ≈ constant (the paper runs ~10⁵ clusters for web-scale
    * corpora; cells ≈ corpus/1e4 keeps the per-cell join ~10⁸ pairs).
    * Approximate by design (float centroids, cross-cell misses) → the
    * harness check is rows-only; exactness is pinned in spec: with
    * cells = 1 the pruned set equals the brute-force rule exactly, and
    * planted cos≈0.97 copies are pruned while their originals survive.
    * Zero-norm vectors are excluded by contract (no direction), as on
    * every cosine path. */
  def semanticDedup(
      emb: DataFrame,
      threshold: Double = 0.9,
      cells: Int = 10,
      iters: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val cents = kmeansCentroids(emb, cells, iters)
    // the assigned frame feeds THREE subtrees (both join sides and the
    // output spine) — persist the narrow (vec_id, v, nv, cell) rows so
    // the k×dim nearest-cell scoring runs once per vector, not thrice;
    // released before returning (the minhashNeardupMaterialized idiom)
    val v = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
      .withColumn("cell", nearestCell(cents))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pruned = v.select(col("cell"), col("vec_id").as("a_id"),
          col("v").as("va"), col("nv").as("na"))
        .join(v.select(col("cell"), col("vec_id").as("b_id"),
          col("v").as("vb"), col("nv").as("nb")), Seq("cell"))
        .filter(col("a_id") < col("b_id"))
        .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
        .select(col("b_id").as("vec_id")).distinct()
        .withColumn("is_pruned", lit(true))
      v.select(col("vec_id"), col("cell"))
        .join(pruned, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("is_pruned"), lit(false)).as("pruned"))
        .localCheckpoint(true)
    } finally v.unpersist(blocking = false)
  }

  /** Symmetric int8 quantization of an embedding column — the 4×
    * memory-reduction path for ANN at scale (a 100 TB float corpus
    * becomes 25 TB of int8 + one scale per vector; candidate scoring
    * reads int8, the exact re-rank re-reads floats for the short list).
    * Per row: `m = max_i |x_i|`, `q_i = max(−127, floor(x_i * 127 / m))`
    * — every step a per-row IEEE double expression written identically
    * in the DuckDB oracle, so the output is bit-deterministic (no
    * cross-row float math anywhere). floor (not round) because the two
    * engines' rounding modes differ; the −127 clamp closes the
    * double-rounding edge where `fl(fl(−m·127)/m)` lands a hair below
    * −127 and floor would emit −128 (≈2.5e-6 of max-negative vectors —
    * thousands of rows at 100 TB). Values land in [-127, 127]; NULL and
    * empty vectors both quantize to the empty signature (q_sum 0,
    * min/max NULL) on BOTH engines. The quantization error bound
    * |x_i − q_i·m/127| < m/127 still holds strictly (the clamp only
    * fires where the unclamped error is ~0) and is pinned by a spec,
    * as is top-k rank agreement between int8 and exact float scoring.
    *
    * Emitted as scalars that pin every element — an md5 over the
    * comma-joined ints plus min/max/sum — so the oracle compare never
    * hashes raw float arrays. The HOF lambdas here are interpreted
    * (CodegenFallback) and re-evaluate `m` per element: that is 64×64
    * flops per row, bounded by the fixed dim, not by data volume. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    // NULL → empty first, so both engines walk the same all-zero path
    val e = coalesce(asDouble(col("embedding")),
      array().cast("array<double>"))
    val m = array_max(transform(e, v => abs(v)))
    val q = when(m.isNull || m === 0.0, transform(e, _ => lit(0)))
      .otherwise(transform(e,
        v => greatest(lit(-127L), floor(v * lit(127.0) / m)).cast("int")))
    emb.select(col("vec_id"), q.as("q"))
      .select(
        col("vec_id"),
        md5(concat_ws(",", transform(col("q"), _.cast("string")))).as("q_hash"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"))
  }

  /** Per-subspace product-quantization codebooks (Jégou et al. 2011):
    * the vector is split into `m` contiguous subspaces of dim/m dims
    * and each subspace trains its own `ksub`-centroid quantizer. The
    * codebooks train on a DETERMINISTIC corpus sample
    * (`vec_id % trainMod = 0` — the faiss practice: quantizer quality
    * saturates on a sample while full-corpus Lloyd would pay m·iters
    * whole-corpus scans), via the same distributed Lloyd used by the
    * IVF coarse quantizer. Returns m positional centroid lists. */
  def pqCodebooks(
      emb: DataFrame, m: Int = 4, ksub: Int = 16,
      iters: Int = 2, trainMod: Int = 1): Seq[Seq[(Int, Array[Double])]] = {
    require(m >= 1, s"subspace count $m must be positive")
    val spark = emb.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val dim = dimOf(emb)
    require(dim % m == 0, s"dim $dim not divisible by $m subspaces")
    val sub = dim / m
    val train = emb.filter(col("vec_id") % trainMod === 0)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // ALL m subspace trainings share one scan per Lloyd iteration: the
    // (vec_id, s, sv) subvector stream is built once and each
    // iteration is a single assignment + groupBy(s, cell) job — m
    // per-subspace kmeansCentroids loops would pay m·iters training
    // scans for identical math (per-cluster float-sum order aside,
    // harmless here: the quantizer contract tolerates centroid
    // last-bit wobble, nothing oracle-checked consumes these floats)
    val subs = train.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("v"), s * sub + 1, sub)): _*)).as(Seq("s", "sv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // init: subvectors of the first ksub training vectors by vec_id —
      // identical to what per-subspace Lloyd would start from
      var books: Seq[Seq[(Int, Array[Double])]] = {
        val first = train.orderBy(col("vec_id")).limit(ksub)
          .select(col("v")).as[Seq[Double]].collect()
        (0 until m).map(s => first.zipWithIndex.map { case (v, i) =>
          (i, v.slice(s * sub, s * sub + sub).toArray)
        }.toSeq)
      }
      for (_ <- 0 until iters) {
        val nearest = {
          val distsBySub = array(books.map { cents =>
            array(cents.map { case (_, c) =>
              lit(-2.0) * graft.functions.GraftFunctions.vecDot(
                col("sv"), typedLit(c.toSeq)) +
                lit(c.map(x => x * x).sum)
            }: _*)
          }: _*)
          val d = element_at(distsBySub, col("s") + 1)
          (array_position(d, array_min(d)) - 1).cast("int")
        }
        val sums = (0 until sub).map(d =>
          sum(element_at(col("sv"), d + 1)).as(s"s$d"))
        val rows = subs.withColumn("cell", nearest)
          .groupBy(col("s"), col("cell"))
          .agg(count(lit(1)).as("cnt"), sums: _*)
          .collect()
        books = (0 until m).map { s =>
          rows.filter(_.getAs[Int]("s") == s).map { r =>
            val cell = r.getAs[Int]("cell")
            val cnt = r.getAs[Long]("cnt").toDouble
            cell -> (0 until sub).map(d => r.getAs[Double](s"s$d") / cnt).toArray
          }.toSeq.sortBy(_._1)
        }
      }
      books
    } finally subs.unpersist(blocking = false)
  }

  /** PQ-encode the corpus: each vector becomes `m` small codes (the
    * positional index of its nearest sub-centroid per subspace) plus
    * its exact norm — 4·dim bytes shrink to m codes + one float, the
    * compressed representation that makes a 100 TB embedding store
    * scannable (codes for 1e9 × dim=1024 vectors fit where raw floats
    * cannot). One codegen'd pass; m·ksub vec_dot nodes over dim/m-sized
    * slices (the SignLshBuckets node-count lesson: this is m·ksub ≈
    * dozens, not hundreds). */
  def pqEncode(emb: DataFrame, books: Seq[Seq[(Int, Array[Double])]]): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val v = asDouble(col("embedding"))
    emb.select(col("vec_id"), pqCodes(v, books).as("codes"), norm(v).as("nv"))
  }

  /** The m PQ codes of a double-vector column (positional nearest
    * sub-centroid per subspace). */
  private def pqCodes(v: Column, books: Seq[Seq[(Int, Array[Double])]]): Column = {
    val sub = books.head.head._2.length
    array(books.zipWithIndex.map { case (cents, s) =>
      val sv = slice(v, s * sub + 1, sub)
      val dists = array(cents.map { case (_, c) =>
        lit(-2.0) * graft.functions.GraftFunctions.vecDot(sv, typedLit(c.toSeq)) +
          lit(c.map(x => x * x).sum)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** A query's flat m·ksub ADC lookup table: sub-dot-products of its
    * subvectors against every sub-centroid. */
  private def pqLut(q: Column, books: Seq[Seq[(Int, Array[Double])]]): Column = {
    val sub = books.head.head._2.length
    array(books.zipWithIndex.flatMap { case (cents, s) =>
      val qs = slice(q, s * sub + 1, sub)
      cents.map { case (_, c) =>
        graft.functions.GraftFunctions.vecDot(qs, typedLit(c.toSeq))
      }
    }: _*)
  }

  /** `approx_dot = Σ_s lut[offset_s + code_s]` — m lookups + adds.
    * Offsets come from the ACTUAL codebook sizes, not a nominal ksub:
    * an empty Lloyd cluster shrinks a codebook, and a fixed stride
    * would silently misalign every later subspace's lookups. */
  private def pqAdcDot(books: Seq[Seq[(Int, Array[Double])]]): Column = {
    val offsets = books.map(_.size).scanLeft(0)(_ + _)
    books.indices.map(s =>
      element_at(col("lut"), col("codes")(s) + lit(offsets(s)) + 1))
      .reduce(_ + _)
  }

  /** Compressed-domain approximate top-k by asymmetric distance (the
    * faiss IndexPQ search): corpus vectors are consulted only through
    * their PQ codes — each query precomputes its m×ksub lookup table of
    * sub-dot-products ONCE (on the tiny query frame), and scoring a
    * corpus row is m array lookups + adds, no vector arithmetic at all.
    * `approx_dot(q, x) = Σ_s lut[s·ksub + code_s]`, cosine via the
    * stored exact norm. The scale story is bytes, not cells: the probe
    * scans every row but touches m bytes + one float per row instead of
    * 4·dim — compose with [[IvfIndex]] partition pruning when scan
    * count (not width) is the bottleneck.
    *
    * Approximate by design (quantization error) → rows-only in the
    * gate; the spec pins determinism, code geometry, and EXACTNESS on a
    * codebook-saturating fixture (every subvector is a codeword ⇒ ADC
    * score ≡ exact cosine ⇒ pqTopK ≡ cosTopK). */
  def pqTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 50,
      m: Int = 4,
      ksub: Int = 16,
      iters: Int = 2,
      trainMod: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val books = pqCodebooks(emb, m, ksub, iters, trainMod)
    val corpus = pqEncode(emb, books).filter(col("nv") > 0)
    // per-query LUT: flat m·ksub array of sub-dot-products, one row per
    // query — broadcast-sized by the queryMod contract
    val q = asDouble(col("embedding"))
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), pqLut(q, books).as("lut"),
        norm(q).as("nq"))
      .filter(col("nq") > 0)
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", pqAdcDot(books) / (col("nq") * col("nv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    topKPerQuery(scored, k)
  }

  /** IVF + PQ composed (the faiss IndexIVFPQ shape): the coarse
    * quantizer prunes WHICH rows are scored (≈ nprobe/cells of the
    * corpus, the X6 story) and PQ codes shrink WHAT a scored row costs
    * (m lookups over m bytes + one float, the X83 story) — at 100 TB
    * the two multiply: scan count × scan width. Design choice: codes
    * quantize RAW vectors (codebooks shared across cells), not the
    * per-cell residuals classic IVFPQ encodes — residual encoding
    * buys accuracy per code at the cost of coupling every code to its
    * cell's centroid (recompute on [[IvfIndex]] rebuild-style
    * re-centering); the raw form keeps codes valid across coarse
    * retrains. Approximate on BOTH axes (pruning misses + quantization
    * error); the spec pins full-probe + saturating-codebook ≡ exact
    * cosTopK, so each axis's error collapses to zero when its knob is
    * opened. */
  def ivfPqTopK(
      emb: DataFrame,
      k: Int = 5,
      queryMod: Int = 50,
      nprobe: Int = 3,
      cells: Int = 10,
      iters: Int = 2,
      m: Int = 4,
      ksub: Int = 16,
      trainMod: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val cents = kmeansCentroids(emb, cells, iters)
    val books = pqCodebooks(emb, m, ksub, iters, trainMod)
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("cell", nearestCell(cents))
      .withColumn("nv", norm(col("v")))
      .filter(col("nv") > 0)
      .select(col("vec_id"), col("cell"),
        pqCodes(col("v"), books).as("codes"), col("nv"))
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
      .withColumn("nq", norm(col("q")))
      .filter(col("nq") > 0)
      .withColumn("probe",
        explode(slice(reverse(array_sort(cellScores(cents))), 1, nprobe)))
      .select(col("query_id"), pqLut(col("q"), books).as("lut"),
        col("nq"), col("probe.cell").as("cell"))
    val scored = corpus
      .join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", pqAdcDot(books) / (col("nq") * col("nv")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    topKPerQuery(scored, k)
  }

  /** kNN label-agreement — the mislabel/outlier detector over an
    * annotated embedding corpus: for each probed vector, how many of
    * its `k` nearest cosine neighbors carry the SAME label. A vector
    * whose neighborhood out-votes its own label (`suspect`) is a
    * candidate annotation error or distribution outlier — the standard
    * label-noise audit before a labeled set is trusted for training.
    *
    * Composes [[cosTopKFor]] unchanged (self-match excluded, top-k
    * membership decided by the (cos desc, vec_id) tiebreak that the
    * exact-search gate already pins cross-engine), then joins the
    * label column back on both sides of each (query, neighbor) edge.
    * Output is integer-only: (vec_id, label, n_neighbors, n_agree,
    * suspect = strict-minority agreement).
    *
    * Scale shape: inherits cosTopKFor's bounded plan (broadcast
    * queries, one corpus scan, partial WindowGroupLimit below the
    * exchange); the label joins move only k rows per query, keyed on
    * vec_id. At 100 TB the probe set is the sampled audit slice, not
    * the corpus — the corpus side stays a single scan either way. */
  def knnLabelAgreement(
      emb: DataFrame, k: Int = 5, queryMod: Int = 10): DataFrame = {
    val topk = cosTopKFor(emb, emb.filter(col("vec_id") % queryMod === 0), k)
    val labels = emb.select(col("vec_id"), col("label"))
    topk
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nbr_label")), Seq("neighbor_id"))
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), Seq("query_id"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(
        count(lit(1)).as("n_neighbors"),
        sum(when(col("nbr_label") === col("q_label"), lit(1L))
          .otherwise(lit(0L))).as("n_agree"))
      .select(col("query_id").as("vec_id"), col("q_label").as("label"),
        col("n_neighbors"), col("n_agree"),
        (col("n_agree") * 2 < col("n_neighbors")).as("suspect"))
  }

  /** Per-label centroid similarity matrix — the class-prototype
    * geometry report over an annotated embedding set: how close are
    * the label means, pairwise? Near-identical prototypes mean the
    * labels are indistinguishable in embedding space (mislabeled data,
    * collapsed classes, or an embedding model that can't see the
    * distinction) — the dataset-level companion of the per-vector
    * [[knnLabelAgreement]] audit.
    *
    * Everything is EXACT INTEGER so the matrix hash-compares across
    * engines: components quantize per row (`floor(v·10⁶)` in double
    * precision — both engines run the identical IEEE ops), the
    * centroid is the integral-div mean of the quantized components
    * (bounded back to quantized scale regardless of corpus size), and
    * similarity is reported as sign(dot)·(10⁶·dot²) div (‖a‖²·‖b‖²) —
    * the signed squared cosine in ppm, a monotone proxy for |cos| that
    * needs no square root; the self-pair lands at exactly 10⁶ (a
    * built-in sanity row). Cross products sit in DECIMAL(38,0) ↔
    * HUGEINT; mean-quantized components keep dot² under 10³⁴ at ANY
    * corpus size, so the decimal never overflows.
    *
    * Scale shape: ONE shuffle — the (label, idx) component groupBy,
    * bounded by labels × dim, never the vector count (map-side
    * partials do the reduction); norms, the dim-keyed centroid
    * self-join and the final ratios all run over the labels×dim frame
    * (thousands of rows). NULL labels are excluded by contract. */
  def labelCentroidSimilarity(emb: DataFrame): DataFrame = {
    val cent = labelCentroids(emb)
    val norms = cent.groupBy(col("label"))
      .agg(sum(col("cq").cast("decimal(38,0)") * col("cq")).as("nrm"))
    val a = cent.select(col("idx"), col("label").as("label_a"), col("cq").as("qa"))
    val b = cent.select(col("idx"), col("label").as("label_b"), col("cq").as("qb"))
    a.join(b, Seq("idx"))
      .filter(col("label_a") <= col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("qa").cast("decimal(38,0)") * col("qb")).as("dot"))
      .join(broadcast(norms.select(col("label").as("label_a"), col("nrm").as("na"))),
        Seq("label_a"))
      .join(broadcast(norms.select(col("label").as("label_b"), col("nrm").as("nb"))),
        Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        expr("""(CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
                ((CAST(1000000 AS DECIMAL(38,0)) * dot * dot) DIV (na * nb))""")
          .as("cos2_ppm"))
  }

  /** Mean-quantized label centroids: (label, idx, cq) with
    * `cq = Σ floor(v·10⁶) div n` — exact integer, bounded to the
    * quantized component scale at any corpus size (see
    * [[labelCentroidSimilarity]]). ONE (label, idx) groupBy with
    * map-side partials; NULL labels excluded by contract. */
  private def labelCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("label").isNotNull)
      .select(col("label"), posexplode(col("embedding")).as(Seq("idx", "v")))
      .select(col("label"), col("idx"),
        floor(col("v").cast("double") * lit(1000000.0)).as("q"))
      .groupBy(col("label"), col("idx"))
      .agg(expr("sum(CAST(q AS DECIMAL(38,0))) DIV count(1)").as("cq"))

  /** Per-label outlier audit — the vectors FARTHEST from their own
    * label's centroid: for every labeled vector, the signed squared
    * cosine (ppm, the [[labelCentroidSimilarity]] measure — monotone
    * in cosine, no square root, exact integer) against the label's
    * mean-quantized centroid, keeping the bottom `k` per label with a
    * 1-based rank (1 = farthest). The per-vector counterpart of the
    * prototype matrix: a vector anti-aligned with its own class mean
    * is the mislabel/contamination candidate a curation pass reviews
    * first.
    *
    * Scale shape: the quantized explode joins the BROADCAST centroid
    * frame (labels × dim rows) on (label, idx) — the corpus-scale
    * stream never shuffles for the join — then ONE vec_id-keyed
    * aggregate forms dot and self-norm, and the bottom-k window runs
    * per label with the rank filter rewriting to a partial
    * WindowGroupLimit below its exchange (the x56/x66 shape): each
    * map task forwards at most k candidates per label. */
  def centroidOutliers(emb: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"k $k must be positive")
    val cent = labelCentroids(emb)
    val q = emb.filter(col("label").isNotNull)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("idx", "v")))
      .select(col("vec_id"), col("label"), col("idx"),
        floor(col("v").cast("double") * lit(1000000.0)).as("q"))
    val scored = q.join(broadcast(cent), Seq("label", "idx"))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sum(col("q").cast("decimal(38,0)") * col("cq")).as("dot"),
        sum(col("q").cast("decimal(38,0)") * col("q")).as("nv"))
      .join(broadcast(cent.groupBy(col("label"))
        .agg(sum(col("cq").cast("decimal(38,0)") * col("cq")).as("nc"))),
        Seq("label"))
      // a zero vector (or a degenerate all-zero centroid) has no
      // direction to compare — excluded by the same contract as every
      // cosine path in this module
      .filter(col("nv") > 0 && col("nc") > 0)
      .select(col("label"), col("vec_id"),
        expr("""(CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
                ((CAST(1000000 AS DECIMAL(38,0)) * dot * dot) DIV (nv * nc))""")
          .as("cos2_ppm"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos2_ppm").asc, col("vec_id").asc)
    // "rank_in_label", not "rank": the bare word collides with the
    // rank() window function in the oracle's QUALIFY clause
    scored.withColumn("rank_in_label", row_number().over(w))
      .filter(col("rank_in_label") <= k)
  }

  /** MMR diversified retrieval (Carbonell & Goldstein 1998): re-rank a
    * top-`poolK` relevance pool so each pick balances relevance
    * against similarity to what is ALREADY picked —
    * `argmax λ·rel − (1−λ)·max_sim_to_selected` — the batch-assembly
    * answer to "my retrieved context is five copies of the same
    * document" that plain top-k ([[cosTopK]]) structurally cannot
    * give. λ is integer per-mille (`lambdaPpt`); similarities are
    * floor-quantized cosine ppm; the greedy argmax ties break on the
    * smaller vec_id, so selection is fully deterministic.
    *
    * Rows-only by the x33 convention: per-round argmax rewriting is
    * not one SQL query — exactness is pinned by the hand-worked
    * ExtSpec example, λ=1000 ≡ pure relevance order, and the
    * diversification property itself. Scale shape: the heavy leg is
    * the distributed [[cosTopK]] pool (bounded pre-rank shuffle);
    * the greedy loop is DRIVER math over queries × poolK rows (the
    * x58 convention — k-bounded collects are config, not data), with
    * O(k²·poolK) integer ops per query. */
  def mmrDiversify(emb: DataFrame, k: Int = 5, poolK: Int = 20,
      queryMod: Int = 50, lambdaPpt: Int = 700): DataFrame = {
    require(k >= 1 && poolK >= k, s"need poolK $poolK >= k $k >= 1")
    require(lambdaPpt >= 0 && lambdaPpt <= 1000,
      s"lambdaPpt $lambdaPpt must be in [0, 1000]")
    val spark = emb.sparkSession
    val pool = cosTopK(emb, poolK, queryMod)
    val ids = pool.select(col("neighbor_id").as("vec_id"))
      .unionByName(pool.select(col("query_id").as("vec_id"))).distinct()
    val vecs = emb.join(ids, Seq("vec_id"))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cosPpm(a: Array[Double], b: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      math.floor(dot / math.sqrt(na) / math.sqrt(nb) * 1000000.0).toLong
    }
    val byQuery = pool.select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.sortBy(_._1)
    val out = byQuery.flatMap { case (q, rows) =>
      val qv = vecs(q)
      val cands0 = rows.map(_._2).distinct.sorted.toVector
      val rel = cands0.map(c => c -> cosPpm(vecs(c), qv)).toMap
      var selected = Vector.empty[Long]
      var cands = cands0
      (1 to math.min(k, cands0.size)).map { r =>
        val scored = cands.map { c =>
          val maxSim =
            if (selected.isEmpty) 0L
            else selected.map(s => cosPpm(vecs(c), vecs(s))).max
          val score = Math.floorDiv(lambdaPpt * rel(c), 1000L) -
            Math.floorDiv((1000L - lambdaPpt) * maxSim, 1000L)
          (c, score)
        }
        val best = scored.minBy { case (c, s) => (-s, c) }
        selected :+= best._1
        cands = cands.filterNot(_ == best._1)
        (q, r.toLong, best._1, best._2)
      }
    }
    import spark.implicits._
    out.toDF("query_id", "sel_rank", "vec_id", "score_ppm")
  }

  /** Raw inner-product top-k — the unnormalized sibling of [[cosTopK]]
    * (maximum-inner-product search: when embedding NORM carries signal
    * — e.g. popularity-scaled item vectors — cosine throws it away).
    * Same probe-set convention, same bounded-pre-rank top-k plan, same
    * (score DESC, vec_id) tiebreak. Kept on the cosTopKFor universe
    * (zero-norm vectors excluded) so the two rankings fuse over the
    * same candidate space. */
  def dotTopK(emb: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("q"))
      .withColumn("nq", norm(col("q"))).filter(col("nq") > 0)
    val corpus = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", norm(col("v"))).filter(col("nv") > 0)
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      // the score column is named "cos" only because topKPerQuery
      // ranks that column; the VALUE is the raw dot product
      .withColumn("cos", dot(col("q"), col("v")))
      .select(col("query_id"), col("vec_id"), col("cos"))
    topKPerQuery(scored, k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009): merge
    * any number of (query_id, neighbor_id, rank) rankings by
    * `Σ 10⁶ div (kConst + rank)` — the standard no-tuning ensemble
    * for heterogeneous retrieval signals (cosine vs inner-product vs
    * sparse), exact integer so the fusion hash-compares; ties break
    * on the smaller neighbor_id. The per-list ranks are already
    * k-bounded, so the union is lists × k × queries rows — config-
    * scale; the fused top-k rides the same partial WindowGroupLimit
    * rewrite as every ranking in the family. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 5,
      kConst: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kConst >= 0, s"kConst $kConst must be non-negative")
    val all = rankings
      .map(_.select(col("query_id"), col("neighbor_id"), col("rank")))
      .reduce(_.unionByName(_))
    val fused = all
      .withColumn("contrib", expr(s"1000000 DIV ($kConst + rank)"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("contrib")).as("rrf_ppm"),
        count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_ppm").desc, col("neighbor_id"))
    fused.withColumn("fused_rank", row_number().over(w).cast("int"))
      .filter(col("fused_rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("n_lists"),
        col("rrf_ppm"), col("fused_rank"))
  }

  /** Kendall-τ ranking agreement between two (query_id, neighbor_id,
    * rank) lists — the eval metric behind a fusion decision
    * ([[rrfFuse]] is only worth running when the input rankings
    * DISAGREE; τ quantifies how much): per query, over the neighbors
    * COMMON to both lists (the standard treatment for top-k lists —
    * absent items have no defined rank), count concordant and
    * discordant pairs and report `τ_ppm = 10⁶·(C−D) div (C+D)`
    * (0 when no comparable pair exists). Exact integer end to end.
    *
    * Scale shape: the common frame is ≤ k rows per query, so the
    * per-query pair self-join is a CONFIG-bounded k² blowup — never
    * corpus-scale; both joins are equi-joins on (query, neighbor) /
    * query. */
  def kendallTau(rankA: DataFrame, rankB: DataFrame): DataFrame = {
    val a = rankA.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("ra"))
    val b = rankB.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("rb"))
    val common = a.join(b, Seq("query_id", "neighbor_id"))
    val p1 = common.select(col("query_id"), col("neighbor_id").as("i"),
      col("ra").as("rai"), col("rb").as("rbi"))
    val p2 = common.select(col("query_id"), col("neighbor_id").as("j"),
      col("ra").as("raj"), col("rb").as("rbj"))
    p1.join(p2, Seq("query_id"))
      .filter(col("i") < col("j"))
      .select(col("query_id"),
        ((col("rai") - col("raj")) * (col("rbi") - col("rbj"))).as("prod"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("prod") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("prod") < 0, 1L).otherwise(0L)).as("discordant"))
      .select(col("query_id"), col("n_pairs"), col("concordant"),
        col("discordant"),
        // sign-decomposed (the x91 convention): Spark's DIV and DuckDB
        // 1.0.0's // both truncate toward zero, but the division only
        // ever sees |C−D|, so no engine's negative rounding matters
        when(col("concordant") + col("discordant") === 0, lit(0L))
          .otherwise(
            when(col("concordant") >= col("discordant"), lit(1L))
              .otherwise(lit(-1L)) *
              expr("1000000 * abs(concordant - discordant)" +
                " DIV (concordant + discordant)"))
          .as("tau_ppm"))
  }

  /** EMBEDDING-DEDUP THRESHOLD SWEEP — the X232 tuning view for the
    * EMBEDDING near-dup axis ("at cos ≥ 0.8 we'd rewrite 120 pairs;
    * at 0.6, 900"): per cosine threshold, the exact pair count and
    * distinct vectors touched, over LABEL-BLOCKED exact pairs (the
    * X202 rationale — production blocks by IVF cell/LSH bucket; the
    * label block keeps the DuckDB oracle exactly reproducible). ONE
    * pair pass at the loosest cut serves every threshold.
    *
    * Cross-engine exactness of a FLOAT threshold compare: the cosine
    * is written as the IDENTICAL expression tree on both engines —
    * `dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b)))` with left-to-right
    * dot accumulation (vec_dot ≡ list_dot_product bit-for-bit, the
    * q15-pinned equivalence) — so every pair's cos is bit-equal and
    * the comparison against the shared literal can never flip (the
    * x151 rule, applied to a threshold instead of a rank). The
    * gaussian fixture has almost no natural pairs above 0.5, so the
    * gate PLANTS one rescaled-copy family per similarity level
    * (alternating ±a per dimension ⇒ cos ≈ 1/√(1+a²) — a = 1.5 …
    * 0.33 lands one family between each pair of thresholds); plants
    * are mirrored in the oracle (the x13 convention). Zero-pair
    * thresholds emit explicit zero rows (x217).
    *
    * Scale shape: pair volume is Σ (label-block size)², never
    * all-pairs; the sweep costs one pass regardless of |thresholds|. */
  def embedThresholdSweep(
      emb: DataFrame,
      plants: Seq[(Int, Double)] =
        Seq(1 -> 1.5, 2 -> 1.2, 3 -> 0.9, 4 -> 0.6, 5 -> 0.33),
      thresholds: Seq[Int] = Seq(50, 60, 70, 80, 90)): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(t => t >= 1 && t <= 99),
      s"thresholds $thresholds must be percent values in [1, 99]")
    graft.functions.GraftFunctions.register(emb.sparkSession)
    val base = emb
      .filter(col("label").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val withPlants = plants.foldLeft(base) { case (acc, (k, a)) =>
      acc.unionByName(base.filter(col("vec_id") % 100 === k)
        .select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
          col("label"),
          transform(col("v"),
            (x, i) => x * (lit(1.0) + lit(a) * ((i % 2) * 2 - 1))).as("v")))
    }
    val withNorm = withPlants
      .withColumn("n2",
        graft.functions.GraftFunctions.vecDot(col("v"), col("v")))
      .filter(col("n2") > 0) // zero-norm out by the cosine contract
    val cos = withNorm.as("a")
      .join(withNorm.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        (graft.functions.GraftFunctions.vecDot(col("a.v"), col("b.v")) /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cos"))
      .filter(col("cos") >= thresholds.min / 100.0)
      .localCheckpoint(true)
    val counts = cos
      .select(col("a_id"), col("b_id"), col("cos"),
        explode(typedLit(thresholds.toList)).as("threshold"))
      .filter(col("cos") >= col("threshold") / lit(100.0))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    // exact touched-vector count per threshold (a_id/b_id sets overlap)
    val touched = cos
      .select(explode(array(col("a_id"), col("b_id"))).as("vid"),
        col("cos"))
      .select(col("vid"), explode(typedLit(thresholds.toList)).as("threshold"),
        col("cos"))
      .filter(col("cos") >= col("threshold") / lit(100.0))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("vid")).as("n_vecs"))
    emb.sparkSession.range(1)
      .select(explode(typedLit(thresholds.toList)).as("threshold"))
      .join(counts, Seq("threshold"), "left")
      .join(touched, Seq("threshold"), "left")
      .select(col("threshold").cast("long").as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
  }
}
