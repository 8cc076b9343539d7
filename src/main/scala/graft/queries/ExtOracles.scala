package graft.queries

/** DuckDB oracle SQL for the `graft.ext` query inventory.
  *
  * Determinism contract (matches the compare gate's sorted hash):
  *   - cross-row aggregates are integers only; every double either comes
  *     from a single division of exact integers or a per-row expression
  *     tree evaluated identically by both engines;
  *   - similarity outputs are rank-based (row_number with a full
  *     tiebreak), never raw float scores across engines;
  *   - shared hashes are md5-derived: Spark `conv(substring(md5(x),1,8),
  *     16,10)` ≡ DuckDB `('0x' || substr(md5(x),1,8))::BIGINT`;
  *   - x6_ann_ivf is approximate by design (float centroids), so it has
  *     NO oracle entry — the driver records a rows-only check and its
  *     recall is asserted against the exact baseline in ScalaTest.
  */
object ExtOracles {

  /** The x255 15-bit frame signature, GENERATED from the same
    * (i, i+1) byte comparisons [[graft.ext.Multimodal.shotBoundaries]]
    * folds — the single-source-of-truth discipline langId's oracle
    * established. */
  private val shotSigTerms: String = (0 until 15).map { i =>
    s"(CASE WHEN ('0x'||substr(fh,${2 * i + 1},2))::BIGINT > " +
      s"('0x'||substr(fh,${2 * i + 3},2))::BIGINT THEN ${1L << i}" +
      " ELSE 0 END)"
  }.mkString(" + ")

  /** Distinct word 3-gram shingles per doc, as a DuckDB CTE. */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |                        FOR i IN range(1, len(s)-1)]) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents))""".stripMargin

  /** 64-bit SimHash, bit i from the lo (md5 hex 1–8) or hi (hex 9–16)
    * 32-bit token hash — mirrors Dedup.simhash exactly. Bit 63's value
    * is Long.MinValue; `1::BIGINT<<63` overflows in DuckDB, so it is
    * spelled `-9223372036854775807 - 1`, and the left-to-right sum adds
    * it LAST (all positive partial sums fit in a BIGINT). */
  private val simhashSums =
    (0 until 64).map { i =>
      val src = if (i < 32) s"(lo>>$i)" else s"(hi>>${i - 32})"
      s"sum(($src&1)*2-1) AS s$i"
    }.mkString(", ")
  private val simhashPacked =
    (0 until 64).map { i =>
      val bitVal = if (i == 63) "(-9223372036854775807 - 1)::BIGINT" else s"(1::BIGINT<<$i)"
      s"(CASE WHEN s$i >= 0 THEN $bitVal ELSE 0::BIGINT END)"
    }.mkString(" + ")

  /** The x202 peel recurrence as chained CTE stages (the x188/x99
    * fixed-iteration convention): stage i keeps nodes of degree ≥ k in
    * e(i−1) and the edges both of whose endpoints survive. Generated,
    * so the round count can never drift from the Spark side's. */
  private def kcorePeels(k: Int, iters: Int): String =
    (1 to iters).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src FROM e${i - 1}
         |  GROUP BY 1 HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.src
         |  JOIN k$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")

  /** Generated BFS frontier rounds over the symmetric pair edges `e0`
    * from seed set `v0` (node, depth) — the x216 fixed-iteration
    * convention: round i assigns depth i to unvisited neighbors of
    * the depth-(i−1) frontier. Generated so the round count can
    * never drift from the Spark side's. */
  private def bfsRounds(iters: Int): String =
    (1 to iters).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS node FROM e0 e
         |  JOIN v${i - 1} v ON v.node = e.src AND v.depth = ${i - 1}
         |  WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
         |v$i AS MATERIALIZED (
         |  SELECT node, depth FROM v${i - 1}
         |  UNION ALL SELECT node, $i FROM f$i)""".stripMargin
    }.mkString(",\n")

  /** Per-language marker scores, generated from the SAME marker lists the
    * Spark side uses (single source of truth in TextStats.langMarkers). */
  private val langScore: String =
    graft.ext.TextStats.langMarkers.map { case (lang, ms) =>
      val inList = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($inList))) AS s_$lang"
    }.mkString(", ")

  /** The argmax CASE, generated from the same list so the 20-language
    * tiebreak (first-in-list-order = alphabetical, 'und' on zero hits)
    * can never drift from TextStats.langId's fold. */
  private val langCase: String = {
    val langs = graft.ext.TextStats.langMarkers.map(_._1)
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val whens = langs.init
      .map(l => s"WHEN s_$l = $g THEN '$l'").mkString(" ")
    s"CASE WHEN $g <= 0 THEN 'und' $whens ELSE '${langs.last}' END"
  }

  val all: Map[String, String] = Map(
    "x1_exact_dedup" ->
      """SELECT md5(text) AS content_hash,
        |       CAST(min(doc_id) AS BIGINT) AS keeper_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    // NOTE: this oracle is brute-force all-pairs while the Spark side is
    // 16×4 LSH banding — recall ≥ 99.97% per pair at the 0.8 threshold
    // (Dedup.bandingMissProb), 100% empirically verified on the sf0.01
    // and sf0.1 fixtures. A NEW fixture can diverge without a code
    // change; re-run the brute-force recall sweep when fixtures change.
    "x2_minhash_neardup" ->
      s"""WITH $shingleCte
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |         len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8""".stripMargin,

    "x3_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |     s AS (SELECT query_id, vec_id,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, "rank" FROM (
        |  SELECT query_id, vec_id AS neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos DESC, vec_id) AS INT) AS "rank"
        |  FROM s) WHERE "rank" <= 5""".stripMargin,

    // Filtered search: x3's construction with the corpus pre-filtered
    // on document metadata (the semi-join runs before any scoring on
    // the Spark side; here it's the same inner join on doc_id).
    "x48_filtered_topk" ->
      """WITH keep AS (SELECT doc_id FROM documents
        |              WHERE lang IN ('en', 'de') AND n_chars >= 100),
        |     q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings JOIN keep ON vec_id = doc_id),
        |     s AS (SELECT query_id, vec_id,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id)
        |SELECT query_id, neighbor_id, "rank" FROM (
        |  SELECT query_id, vec_id AS neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY cos DESC, vec_id) AS INT) AS "rank"
        |  FROM s) WHERE "rank" <= 5""".stripMargin,

    "x4_text_stats" ->
      """SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "x5_simhash_neardup" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |     h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS lo,
         |                  ('0x' || substr(md5(t), 9, 8))::BIGINT AS hi FROM tok),
         |     s AS (SELECT doc_id, $simhashSums FROM h GROUP BY doc_id),
         |     sig AS (SELECT doc_id, CAST($simhashPacked AS BIGINT) AS simhash FROM s)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "x7_lang_id" ->
      s"""WITH scored AS (
         |  SELECT lang, $langScore
         |  FROM (SELECT lang, string_split(coalesce(text, ''), ' ') AS toks
         |        FROM documents)),
         |  best AS (
         |  SELECT lang, $langCase AS predicted
         |  FROM scored)
         |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
         |FROM best GROUP BY lang, predicted""".stripMargin,

    "x8_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
        |         length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
        |         length(text) AS n_chars
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(n_tokens AS INT) AS n_tokens,
        |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |       CASE WHEN n_chars = 0 THEN 0e0
        |            ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
        |       CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
        |       CASE WHEN n_tokens < 5 THEN 0.0
        |            ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
        |                        ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
        |                 + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
        |       END AS quality_score
        |FROM t""".stripMargin,

    "x9_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS bpe_tokens
        |FROM documents""".stripMargin,

    "x10_fingerprint" ->
      s"""WITH $shingleCte,
         |  f AS (SELECT doc_id,
         |               list_distinct(list_filter(
         |                 list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT),
         |                 h -> h % 16 = 0)) AS fps
         |        FROM sh)
         |SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
         |       list_min(fps) AS min_fingerprint
         |FROM f""".stripMargin,

    // planted near-dups (see ExtQueries.plantedEmb): every 100th vector
    // duplicated at vec_id+1e6 with exact 0.75/1.25 alternating scaling
    // (cos ≈ 0.97), so the ≥0.9 brute-force oracle is non-vacuous.
    // DuckDB lambda index i is 1-based; Spark's is 0-based — (i-1) aligns.
    "x13_embed_neardup" ->
      """WITH aug AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_transform(embedding,
        |           (x, i) -> x::DOUBLE * (1.0 + 0.25*((((i-1) % 2)*2)-1)))
        |  FROM embeddings WHERE vec_id % 100 = 0)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin,

    // Incremental embedding near-dup: cross pairs only (a = original
    // corpus, b = planted batch copies) — brute-force cosine on the
    // same planted construction as x13; the Spark side is the indexed
    // LSH path, so this row cross-proves the index round-trip AND the
    // banding recall at once.
    "x44_incr_embed_neardup" ->
      """WITH corpus AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |  batch AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(embedding,
        |           (x, i) -> x::DOUBLE * (1.0 + 0.25*((((i-1) % 2)*2)-1))) AS v
        |  FROM embeddings WHERE vec_id % 100 = 0)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |FROM corpus a, batch b
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.9""".stripMargin,

    "x14_prep_pipeline" ->
      s"""WITH $shingleCte,
         |  dup AS (
         |    SELECT DISTINCT b.doc_id AS doc_id
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |  q AS (
         |    SELECT doc_id, lang, text,
         |           len(string_split(text, ' ')) AS n_tokens,
         |           len(list_filter(string_split(text, ' '),
         |               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
         |           length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
         |           length(text) AS n_chars
         |    FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
         |  kept AS (
         |    SELECT * FROM q
         |    WHERE (CASE WHEN n_tokens < 5 THEN 0.0
         |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
         |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
         |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
         |           END) >= 1.0)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM kept GROUP BY lang""".stripMargin,

    "x12_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey, o_orderdate
        |                            ORDER BY o_orderkey DESC) AS rn
        |  FROM orders QUALIFY rn = 1)
        |SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
        |       o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.o_orderdate""".stripMargin,

    // Ordered conversion funnel over the first three fixture days:
    // each stage's clock is the user's earliest completion of the
    // previous stage, next stage strictly after it in integer
    // microseconds — the same chained min-filter derivation as the
    // Spark side, re-expressed as dependent CTEs.
    "x75_event_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events
        |  WHERE ts IS NOT NULL AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-04 00:00:00'),
        |s1 AS (SELECT user_id, min(us) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > s2.t GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS event_type,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click',
        |       (SELECT CAST(count(*) AS BIGINT) FROM s2)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase',
        |       (SELECT CAST(count(*) AS BIGINT) FROM s3)""".stripMargin,

    // Lag features: identical lag/row_number windows under the same
    // total order.
    "x173_lag_features" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_id, user_id, event_type,
        |       CAST(row_number() OVER w AS BIGINT) AS seq_idx,
        |       lag(event_type) OVER w AS prev_type,
        |       us - lag(us) OVER w AS gap_us
        |FROM base
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)""".stripMargin,

    // Encoding audit: identical plant + length-difference counts
    // under the same regex classes (Java regex ≡ RE2 for these).
    "x172_encoding_audit" ->
      """WITH d AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 37 = 0
        |              THEN coalesce(text, '')
        |                     || chr(65533) || chr(7) || chr(7)
        |              ELSE coalesce(text, '') END AS text
        |  FROM documents WHERE source IS NOT NULL),
        |r AS (
        |  SELECT source, length(text) AS chars,
        |         length(text) - length(regexp_replace(
        |           text, '[^\x00-\x7F]', '', 'g')) AS non_ascii,
        |         length(text) - length(regexp_replace(
        |           text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ctl,
        |         CASE WHEN contains(text, chr(65533)) THEN 1 ELSE 0 END
        |           AS has_repl
        |  FROM d),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(chars) AS BIGINT) AS chars,
        |             CAST(sum(non_ascii) AS BIGINT) AS non_ascii,
        |             CAST(sum(has_repl) AS BIGINT) AS n_replacement_docs,
        |             CAST(sum(ctl) AS BIGINT) AS control_chars
        |      FROM r GROUP BY 1)
        |SELECT source, n_docs, chars, non_ascii,
        |       CASE WHEN chars > 0
        |            THEN CAST(non_ascii * 1000000 // chars AS BIGINT)
        |            ELSE 0 END AS non_ascii_ppm,
        |       n_replacement_docs, control_chars
        |FROM g""".stripMargin,

    // Split balance: the x20 split CASE + three exact share
    // divisions in HUGEINT.
    "x171_split_balance" ->
      """WITH s AS (
        |  SELECT CASE WHEN b < 900 THEN 'train'
        |              WHEN b < 950 THEN 'val'
        |              ELSE 'test' END AS split,
        |         source, coalesce(n_chars, 0) AS chars
        |  FROM (SELECT source, n_chars,
        |          ('0x' || substr(md5(text || 'split-v1'), 1, 8))::BIGINT
        |            % 1000 AS b
        |        FROM documents WHERE source IS NOT NULL)),
        |g AS (SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(chars) AS BIGINT) AS chars
        |      FROM s GROUP BY 1, 2),
        |st AS (SELECT split, sum(chars) AS split_chars FROM g GROUP BY 1),
        |sc AS (SELECT source, sum(chars) AS source_chars FROM g GROUP BY 1),
        |ct AS (SELECT sum(source_chars) AS total_chars FROM sc)
        |SELECT g.split, g.source, g.n_docs, g.chars,
        |       CASE WHEN st.split_chars > 0
        |            THEN CAST(g.chars * 1000000 // st.split_chars AS BIGINT)
        |            ELSE 0 END AS split_share_ppm,
        |       CASE WHEN ct.total_chars > 0
        |            THEN CAST(sc.source_chars * 1000000 // ct.total_chars
        |                      AS BIGINT)
        |            ELSE 0 END AS corpus_share_ppm,
        |       abs(CASE WHEN st.split_chars > 0
        |            THEN CAST(g.chars * 1000000 // st.split_chars AS BIGINT)
        |            ELSE 0 END -
        |           CASE WHEN ct.total_chars > 0
        |            THEN CAST(sc.source_chars * 1000000 // ct.total_chars
        |                      AS BIGINT)
        |            ELSE 0 END) AS abs_gap_ppm
        |FROM g JOIN st USING (split) JOIN sc USING (source), ct""".stripMargin,

    // Tukey fences: identical histogram rank carve (the x127/x166
    // selection) + pure-integer doubled fence comparisons.
    "x170_tukey_outliers" ->
      """WITH v AS (
        |  SELECT event_type AS g,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |h AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt
        |      FROM v GROUP BY 1, 2),
        |c AS (SELECT g, v, cnt,
        |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v)
        |               AS BIGINT) AS cum,
        |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
        |      FROM h),
        |t AS (SELECT g, v, cnt, cum, n, unnest([25, 75]) AS p FROM c),
        |q AS (SELECT g, n,
        |             min(CASE WHEN p = 25 THEN v END) AS q1,
        |             min(CASE WHEN p = 75 THEN v END) AS q3
        |      FROM t
        |      WHERE cum >= (p * n + 99) // 100
        |        AND cum - cnt < (p * n + 99) // 100
        |      GROUP BY 1, 2)
        |SELECT q.g AS event_type, q.n, q.q1, q.q3,
        |       CAST(coalesce(sum(CASE WHEN 2*h.v < 2*q.q1 - 3*(q.q3-q.q1)
        |                               THEN h.cnt END), 0) AS BIGINT)
        |         AS n_low,
        |       CAST(coalesce(sum(CASE WHEN 2*h.v > 2*q.q3 + 3*(q.q3-q.q1)
        |                               THEN h.cnt END), 0) AS BIGINT)
        |         AS n_high
        |FROM q JOIN h ON q.g = h.g
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // Decayed mixing share: identical integer half-life weights;
    // DuckDB's >> zeroes past the width while Java masks it — both
    // sides guard the shift at 20 explicitly.
    "x169_decayed_mix" ->
      """WITH r AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT max(day) AS max_day FROM r),
        |w AS (
        |  SELECT r.event_type,
        |         CASE WHEN (m.max_day - r.day) // 7 < 20
        |              THEN CAST(1000000 AS BIGINT)
        |                     >> CAST((m.max_day - r.day) // 7 AS INT)
        |              ELSE 0 END AS w
        |  FROM r, m),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |             sum(w) AS mass_h
        |      FROM w GROUP BY 1),
        |t AS (SELECT sum(mass_h) AS total_mass FROM g)
        |SELECT g.event_type, g.n_rows, CAST(g.mass_h AS BIGINT) AS mass_ppm,
        |       CAST(g.mass_h * 1000000 // t.total_mass AS BIGINT)
        |         AS share_ppm
        |FROM g, t""".stripMargin,

    // Forward conversion: the naive ranked range join states the
    // next-conversion spec directly (earliest later purchase, max
    // conv_id on microsecond ties); the Spark side is one forward
    // as-of window pass — cross-construction proof.
    "x168_next_conversion" ->
      """WITH base AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |t AS (SELECT event_id AS touch_id, user_id, us AS tus
        |      FROM base WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id AS conv_id, us AS cus
        |      FROM base WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT t.touch_id, c.conv_id, c.cus - t.tus AS lag_us,
        |         row_number() OVER (PARTITION BY t.touch_id
        |                            ORDER BY c.cus ASC, c.conv_id DESC)
        |           AS rn
        |  FROM t JOIN c ON t.user_id = c.user_id AND c.cus > t.tus)
        |SELECT t.touch_id, t.user_id, j.conv_id, j.lag_us
        |FROM t LEFT JOIN j ON t.touch_id = j.touch_id AND j.rn = 1""".stripMargin,

    // Deadline funnel: the naive EXISTS range semi-join states the
    // "exists a valid chain" spec directly — the Spark side composes
    // as-of window passes, so the gate is a cross-construction proof.
    "x167_deadline_funnel" ->
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |s1 AS (SELECT DISTINCT user_id, us FROM base
        |       WHERE event_type = 'view'),
        |c2 AS (SELECT DISTINCT user_id, us FROM base
        |       WHERE event_type = 'click'),
        |s2 AS (SELECT c.user_id, c.us FROM c2 c
        |       WHERE EXISTS (SELECT 1 FROM s1 p WHERE p.user_id = c.user_id
        |                     AND p.us < c.us
        |                     AND c.us - p.us <= 43200000000)),
        |c3 AS (SELECT DISTINCT user_id, us FROM base
        |       WHERE event_type = 'purchase'),
        |s3 AS (SELECT c.user_id, c.us FROM c3 c
        |       WHERE EXISTS (SELECT 1 FROM s2 p WHERE p.user_id = c.user_id
        |                     AND p.us < c.us
        |                     AND c.us - p.us <= 43200000000))
        |SELECT CAST(1 AS INT) AS stage, 'view' AS event_type,
        |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM s1)
        |         AS n_users
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click',
        |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM s2)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase',
        |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM s3)""".stripMargin,

    // Cohort retention matrix: first-touch epoch-day cohorts, distinct
    // (user, day) activity before the offset aggregate, cohort sizes
    // joined back — integer day arithmetic end to end.
    "x76_cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL),
        |ft AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1),
        |sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
        |       FROM ft GROUP BY 1),
        |m AS (SELECT ft.cohort_day, act.day - ft.cohort_day AS day_offset,
        |             CAST(count(*) AS BIGINT) AS n_active
        |      FROM act JOIN ft USING (user_id) GROUP BY 1, 2)
        |SELECT m.cohort_day, m.day_offset, m.n_active, sz.cohort_size
        |FROM m JOIN sz USING (cohort_day)""".stripMargin,

    // DAU/WAU: distinct (user, day) activity exploded into the 7
    // window-end days each row contributes to, re-distincted, counted;
    // DuckDB range() is end-EXCLUSIVE (day+7 == Spark's inclusive
    // sequence(day, day+6)).
    "x82_active_users" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY 1),
        |wact AS (SELECT DISTINCT user_id, unnest(range(day, day + 7)) AS day
        |         FROM act),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM wact GROUP BY 1)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)""".stripMargin,

    // Last-touch attribution: DuckDB ASOF LEFT JOIN against the
    // per-(user, microsecond) uniquified touch stream (max event_id,
    // the x12 tie convention); the 60-minute gate nulls the touch
    // columns but keeps the purchase row.
    "x83_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS pus
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, us AS tus, event_id AS touch_id,
        |             event_type AS touch_type,
        |             row_number() OVER (PARTITION BY user_id, us
        |                                ORDER BY event_id DESC) AS rn
        |      FROM e WHERE event_type IN ('view', 'click') QUALIFY rn = 1)
        |SELECT p.purchase_id, p.user_id,
        |       CASE WHEN p.pus - t.tus <= 3600000000 THEN t.touch_id END
        |         AS touch_id,
        |       CASE WHEN p.pus - t.tus <= 3600000000 THEN t.touch_type END
        |         AS touch_type,
        |       CASE WHEN p.pus - t.tus <= 3600000000 THEN p.pus - t.tus END
        |         AS lag_us
        |FROM p ASOF LEFT JOIN t
        |  ON p.user_id = t.user_id AND p.pus >= t.tus""".stripMargin,

    // Props profile: json_valid gates the extraction exactly where
    // Spark's PERMISSIVE from_json yields NULL for the planted
    // brace-dropped rows.
    "x84_props_profile" ->
      """WITH pl AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 31 = 0
        |              THEN substr(props, 1, len(props) - 1)
        |              ELSE props END AS props
        |  FROM events),
        |parsed AS (
        |  SELECT event_type,
        |         CASE WHEN json_valid(props)
        |              THEN json_extract(props, '$.k')::INT END AS k
        |  FROM pl)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(k) AS BIGINT) AS n_parsed,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM parsed GROUP BY 1""".stripMargin,

    // Edit near-dup: plant, title slice, prefix blocking and the
    // length-band necessity filter all mirror the Spark side; the cap
    // (never binding on this fixture — max bucket ~35) mirrors
    // BucketCap via QUALIFY. levenshtein is the same classic DP on
    // both engines.
    "x88_edit_neardup" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |planted AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 8000000, substr(text, 1, 14) || 'Z' || substr(text, 16)
        |  FROM base WHERE doc_id % 21 = 0),
        |t AS (SELECT doc_id, substr(coalesce(text, ''), 1, 40) AS title
        |      FROM planted),
        |b AS (SELECT doc_id, title, substr(title, 1, 10) AS blk,
        |             len(title) AS l
        |      FROM t),
        |c AS (SELECT * FROM b
        |      QUALIFY count(*) OVER (PARTITION BY blk) <= 64)
        |SELECT a.doc_id AS a_id, b2.doc_id AS b_id,
        |       CAST(levenshtein(a.title, b2.title) AS BIGINT) AS dist
        |FROM c a JOIN c b2 ON a.blk = b2.blk
        |WHERE a.doc_id < b2.doc_id AND abs(a.l - b2.l) <= 2
        |  AND levenshtein(a.title, b2.title) <= 2""".stripMargin,

    // CDC latest-wins merge: snapshot rows rank at seq 0, the batch's
    // duplicate-key rows resolve on the higher seq, inserts survive
    // trivially.
    // Delete-aware CDC apply: the op-tagged replay — highest seq per
    // key decides, 'D' removes the key (rn=1 AND op='U'); the ghost
    // tombstones and the update-then-delete keys vanish, the
    // resurrected keys return with their seq-3 attrs.
    "x250_cdc_apply" ->
      """WITH cur AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |         CAST(0 AS BIGINT) AS seq, 'U' AS op FROM customer),
        |u1 AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         c_acctbal + 100.0 AS c_acctbal,
        |         'UPDATED' AS c_mktsegment, CAST(1 AS BIGINT), 'U'
        |  FROM customer WHERE c_custkey % 11 = 0),
        |del AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |         CAST(2 AS BIGINT), 'D'
        |  FROM customer WHERE c_custkey % 13 = 0),
        |res AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |         'RESURRECT' AS c_mktsegment, CAST(3 AS BIGINT), 'U'
        |  FROM customer WHERE c_custkey % 26 = 0),
        |delafter AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |         CAST(4 AS BIGINT), 'D'
        |  FROM customer WHERE c_custkey % 22 = 0),
        |ghost AS (
        |  SELECT c_custkey + 7000000 AS c_custkey, c_name, c_nationkey,
        |         c_acctbal, c_mktsegment, CAST(1 AS BIGINT), 'D'
        |  FROM customer WHERE c_custkey % 19 = 0),
        |ins AS (
        |  SELECT c_custkey + 5000000 AS c_custkey, c_name, c_nationkey,
        |         c_acctbal, 'NEW' AS c_mktsegment, CAST(1 AS BIGINT), 'U'
        |  FROM customer WHERE c_custkey % 17 = 0),
        |allr AS (
        |  SELECT * FROM cur UNION ALL SELECT * FROM u1
        |  UNION ALL SELECT * FROM del UNION ALL SELECT * FROM res
        |  UNION ALL SELECT * FROM delafter UNION ALL SELECT * FROM ghost
        |  UNION ALL SELECT * FROM ins)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, seq
        |FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
        |                                   ORDER BY seq DESC) AS rn
        |      FROM allr)
        |WHERE rn = 1 AND op = 'U'""".stripMargin,

    "x89_cdc_upsert" ->
      """WITH cur AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |         CAST(0 AS BIGINT) AS seq FROM customer),
        |u1 AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |         c_acctbal + 100.0 AS c_acctbal,
        |         'UPDATED' AS c_mktsegment, CAST(1 AS BIGINT) AS seq
        |  FROM customer WHERE c_custkey % 11 = 0),
        |u2 AS (
        |  SELECT c_custkey, c_name || '-v2' AS c_name, c_nationkey, c_acctbal,
        |         'SECOND' AS c_mktsegment, CAST(2 AS BIGINT) AS seq
        |  FROM customer WHERE c_custkey % 33 = 0),
        |ins AS (
        |  SELECT c_custkey + 5000000 AS c_custkey, c_name, c_nationkey,
        |         c_acctbal, 'NEW' AS c_mktsegment, CAST(1 AS BIGINT) AS seq
        |  FROM customer WHERE c_custkey % 17 = 0),
        |allr AS (
        |  SELECT * FROM cur UNION ALL SELECT * FROM u1
        |  UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM ins)
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, seq
        |FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey
        |                                   ORDER BY seq DESC) AS rn
        |      FROM allr)
        |WHERE rn = 1""".stripMargin,

    // Linear attribution: the same user_id equi-join + window gate as
    // the Spark side; integer ppm split with the remainder on the
    // last touch (tus DESC, touch_id DESC — deterministic).
    "x90_multitouch" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS pus
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, us AS tus, event_id AS touch_id,
        |             event_type AS touch_type
        |      FROM e WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT p.purchase_id, p.user_id, t.touch_id, t.touch_type,
        |         CAST(count(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
        |           AS n_touches,
        |         row_number() OVER (PARTITION BY p.purchase_id
        |                            ORDER BY t.tus DESC, t.touch_id DESC) AS rn
        |  FROM p JOIN t ON p.user_id = t.user_id
        |  WHERE t.tus <= p.pus AND p.pus - t.tus <= 3600000000)
        |SELECT purchase_id, user_id, touch_id, touch_type, n_touches,
        |       1000000 // n_touches +
        |         CASE WHEN rn = 1
        |              THEN 1000000 - (1000000 // n_touches) * n_touches
        |              ELSE 0 END AS weight_ppm
        |FROM j""".stripMargin,

    // U-shaped attribution: same join, ASCENDING position order,
    // 40/20/40 CASE with the middle remainder to the last touch.
    "x142_ushape_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS pus
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, us AS tus, event_id AS touch_id,
        |             event_type AS touch_type
        |      FROM e WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT p.purchase_id, p.user_id, t.touch_id, t.touch_type,
        |         CAST(count(*) OVER (PARTITION BY p.purchase_id) AS BIGINT)
        |           AS n_touches,
        |         CAST(row_number() OVER (PARTITION BY p.purchase_id
        |                            ORDER BY t.tus ASC, t.touch_id ASC)
        |              AS INT) AS pos
        |  FROM p JOIN t ON p.user_id = t.user_id
        |  WHERE t.tus <= p.pus AND p.pus - t.tus <= 3600000000)
        |SELECT purchase_id, user_id, touch_id, touch_type, n_touches, pos,
        |       CAST(CASE WHEN n_touches = 1 THEN 1000000
        |                 WHEN n_touches = 2 THEN 500000
        |                 WHEN pos = 1 THEN 400000
        |                 WHEN pos = n_touches
        |                 THEN 400000 + 200000 -
        |                      (200000 // (n_touches - 2)) * (n_touches - 2)
        |                 ELSE 200000 // (n_touches - 2) END AS BIGINT)
        |         AS weight_ppm
        |FROM j""".stripMargin,

    // Label centroids: quantize in DOUBLE (identical IEEE ops),
    // integral-div mean, HUGEINT cross products mirror Spark's
    // DECIMAL(38,0); the signed squared cosine needs no sqrt.
    "x91_label_centroids" ->
      """WITH q0 AS (
        |  SELECT label, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(embedding) AS v
        |  FROM embeddings WHERE label IS NOT NULL),
        |q AS (
        |  SELECT label, i,
        |         CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        |  FROM q0),
        |cent AS (
        |  SELECT label, i, CAST(sum(qv) // count(*) AS BIGINT) AS cq
        |  FROM q GROUP BY 1, 2),
        |nrm AS (
        |  SELECT label, sum(CAST(cq AS HUGEINT) * cq) AS nrm
        |  FROM cent GROUP BY 1),
        |dots AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |         sum(CAST(a.cq AS HUGEINT) * b.cq) AS dot
        |  FROM cent a JOIN cent b ON a.i = b.i AND a.label <= b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |       CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
        |            ((1000000 * dot * dot) // (na.nrm * nb.nrm)) AS BIGINT)
        |         AS cos2_ppm
        |FROM dots
        |JOIN nrm na ON dots.label_a = na.label
        |JOIN nrm nb ON dots.label_b = nb.label""".stripMargin,

    // Conversion lags: rank selection over the naive per-stage
    // ordering — the decomposed-histogram cross-proof (the x30
    // convention); row_number ties on equal lag_s are harmless, only
    // the lag value at the target rank is output.
    "x92_conversion_lag" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |firsts AS (
        |  SELECT user_id, event_type, min(us) AS fus FROM e GROUP BY 1, 2),
        |lags AS (
        |  SELECT 'view->click' AS stage, (b.fus - a.fus) // 1000000 AS lag_s
        |  FROM firsts a JOIN firsts b USING (user_id)
        |  WHERE a.event_type = 'view' AND b.event_type = 'click'
        |    AND b.fus >= a.fus
        |  UNION ALL
        |  SELECT 'click->purchase', (b.fus - a.fus) // 1000000
        |  FROM firsts a JOIN firsts b USING (user_id)
        |  WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |    AND b.fus >= a.fus),
        |ranked AS (
        |  SELECT stage, lag_s,
        |         row_number() OVER (PARTITION BY stage ORDER BY lag_s) AS rn,
        |         CAST(count(*) OVER (PARTITION BY stage) AS BIGINT) AS n
        |  FROM lags)
        |SELECT stage, p, n AS n_users, lag_s AS lag_s_at_p
        |FROM ranked CROSS JOIN (VALUES (50), (90)) ps(p)
        |WHERE rn = (p * n + 99) // 100""".stripMargin,

    // Centroid outliers: the x91 centroid construction + per-vector
    // signed squared cosine to the OWN label's centroid, bottom-5 per
    // label; rank_in_label (not "rank" — that word is the window
    // function in QUALIFY).
    "x93_centroid_outliers" ->
      """WITH q0 AS (
        |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS i,
        |         unnest(embedding) AS v
        |  FROM embeddings WHERE label IS NOT NULL),
        |q AS (
        |  SELECT vec_id, label, i,
        |         CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS qv
        |  FROM q0),
        |cent AS (
        |  SELECT label, i, CAST(sum(qv) // count(*) AS BIGINT) AS cq
        |  FROM q GROUP BY 1, 2),
        |ncn AS (
        |  SELECT label, sum(CAST(cq AS HUGEINT) * cq) AS nc
        |  FROM cent GROUP BY 1),
        |scored AS (
        |  SELECT q.label, q.vec_id,
        |         sum(CAST(q.qv AS HUGEINT) * cent.cq) AS dot,
        |         sum(CAST(q.qv AS HUGEINT) * q.qv) AS nv
        |  FROM q JOIN cent ON q.label = cent.label AND q.i = cent.i
        |  GROUP BY 1, 2),
        |ppm AS (
        |  SELECT s.label, s.vec_id,
        |         CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
        |              ((1000000 * dot * dot) // (nv * ncn.nc)) AS BIGINT)
        |           AS cos2_ppm
        |  FROM scored s JOIN ncn ON s.label = ncn.label
        |  WHERE nv > 0 AND ncn.nc > 0)
        |SELECT label, vec_id, cos2_ppm,
        |       row_number() OVER (PARTITION BY label
        |                          ORDER BY cos2_ppm, vec_id) AS rank_in_label
        |FROM ppm QUALIFY rank_in_label <= 5""".stripMargin,

    // RFM quintiles: DuckDB's NATIVE ntile over the identical
    // (value, c_custkey) total order cross-proves the decomposed-
    // histogram closed form band-for-band. Cents = floor(p*100+0.5)
    // — the same IEEE-double expression Spark runs; sum(BIGINT) is
    // HUGEINT in DuckDB → cast back.
    "x94_rfm_segments" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
        |           AS day,
        |         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderdate IS NOT NULL),
        |mx AS (SELECT max(day) AS max_day FROM o),
        |rfm AS (
        |  SELECT o_custkey AS c_custkey,
        |         (SELECT max_day FROM mx) - max(day) AS recency_days,
        |         CAST(count(*) AS BIGINT) AS frequency,
        |         CAST(sum(cents) AS BIGINT) AS monetary_cents
        |  FROM o GROUP BY 1),
        |s AS (
        |  SELECT c_custkey, recency_days, frequency, monetary_cents,
        |         CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey)
        |              AS BIGINT) AS r_score,
        |         CAST(ntile(5) OVER (ORDER BY frequency, c_custkey)
        |              AS BIGINT) AS f_score,
        |         CAST(ntile(5) OVER (ORDER BY monetary_cents, c_custkey)
        |              AS BIGINT) AS m_score
        |  FROM rfm)
        |SELECT c_custkey, recency_days, frequency, monetary_cents,
        |       r_score, f_score, m_score,
        |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |         CAST(m_score AS VARCHAR) AS segment
        |FROM s""".stripMargin,

    // Entry-path mining: the x29 gaps-and-islands session labeling +
    // ordered string_agg over the first 5 events — the positional
    // construction vs Spark's collect+array_sort (the x64 pair).
    "x95_session_paths" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |l AS (
        |  SELECT *, lag(us) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS prev_us
        |  FROM e),
        |s AS (
        |  SELECT *, sum(CASE WHEN prev_us IS NULL
        |                       OR us - prev_us > 1800000000
        |                     THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM l),
        |r AS (
        |  SELECT user_id, session_idx, event_type,
        |         row_number() OVER (PARTITION BY user_id, session_idx
        |                            ORDER BY us, event_id) AS rn
        |  FROM s),
        |p AS (
        |  SELECT user_id, session_idx,
        |         string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM p GROUP BY 1""".stripMargin,

    // Integer readability: identical count definitions (punctuation
    // runs / whitespace tokens / vowel runs) and the same per-term
    // floor-division FK form; all counts cast to BIGINT on both
    // sides.
    "x96_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         greatest(CAST(len(regexp_extract_all(
        |           lower(coalesce(text, '')), '[.!?]+')) AS BIGINT), 1)
        |           AS n_sentences,
        |         CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |           AS n_words,
        |         CAST(len(regexp_extract_all(
        |           lower(coalesce(text, '')), '[aeiouy]+')) AS BIGINT)
        |           AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        |       390 * n_words // n_sentences
        |         + 11800 * n_syllables // n_words - 15590 AS fk_milli
        |FROM c""".stripMargin,

    // Point-in-time SCD2 lookup: the x85 history chain re-derived,
    // then a LEFT JOIN on key + half-open validity containment; the
    // %7 facts shift 20 years before any version → NULL dim columns.
    "x98_pit_enrich" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us
        |  FROM orders),
        |lagged AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority, us,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                    ORDER BY us, o_orderkey) AS prev_p,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY us, o_orderkey) AS rn
        |  FROM o),
        |versioned AS (
        |  SELECT o_custkey, o_orderpriority, us,
        |         CAST(sum(CASE WHEN rn = 1
        |                         OR prev_p IS DISTINCT FROM o_orderpriority
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY o_custkey ORDER BY us, o_orderkey
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS version_idx
        |  FROM lagged),
        |runs AS (
        |  SELECT o_custkey, version_idx,
        |         min(o_orderpriority) AS o_orderpriority,
        |         min(us) AS valid_from_us
        |  FROM versioned GROUP BY 1, 2),
        |hist AS (
        |  SELECT o_custkey, o_orderpriority, valid_from_us,
        |         lead(valid_from_us) OVER (PARTITION BY o_custkey
        |                                   ORDER BY version_idx) AS valid_to_us
        |  FROM runs),
        |facts AS (
        |  SELECT o_orderkey AS fact_id, o_custkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN us - 631152000000000
        |              ELSE us END AS fact_us
        |  FROM o)
        |SELECT f.fact_id, f.o_custkey, f.fact_us,
        |       h.o_orderpriority, h.valid_from_us
        |FROM facts f LEFT JOIN hist h
        |  ON f.o_custkey = h.o_custkey
        | AND f.fact_us >= h.valid_from_us
        | AND (h.valid_to_us IS NULL OR f.fact_us < h.valid_to_us)""".stripMargin,

    // Integer PageRank: the x18 pair derivation (AS MATERIALIZED —
    // the x68 lesson: the edge frame is referenced by all five
    // iteration CTEs and plain inlining re-expands the shingle
    // self-join each time), then the exact recurrence replayed
    // CTE-per-iteration. Per-edge `r // deg` BEFORE the sum, HUGEINT
    // windowsums cast back — both sides identically lossy.
    "x99_pagerank" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS MATERIALIZED (
         |    SELECT i.a_id, i.b_id
         |    FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  e AS MATERIALIZED (
         |    SELECT a_id AS src, b_id AS dst FROM pairs
         |    UNION ALL
         |    SELECT b_id, a_id FROM pairs),
         |  deg AS MATERIALIZED (
         |    SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         |  r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |  r1 AS MATERIALIZED (
         |    SELECT e.dst AS node,
         |           CAST(150000 + 850 * sum(r.r // d.deg) // 1000 AS BIGINT) AS r
         |    FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY 1),
         |  r2 AS MATERIALIZED (
         |    SELECT e.dst AS node,
         |           CAST(150000 + 850 * sum(r.r // d.deg) // 1000 AS BIGINT) AS r
         |    FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY 1),
         |  r3 AS MATERIALIZED (
         |    SELECT e.dst AS node,
         |           CAST(150000 + 850 * sum(r.r // d.deg) // 1000 AS BIGINT) AS r
         |    FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY 1),
         |  r4 AS MATERIALIZED (
         |    SELECT e.dst AS node,
         |           CAST(150000 + 850 * sum(r.r // d.deg) // 1000 AS BIGINT) AS r
         |    FROM e JOIN r3 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY 1),
         |  r5 AS (
         |    SELECT e.dst AS node,
         |           CAST(150000 + 850 * sum(r.r // d.deg) // 1000 AS BIGINT) AS r
         |    FROM e JOIN r4 r ON e.src = r.node JOIN deg d ON e.src = d.src
         |    GROUP BY 1)
         |SELECT r5.node, d.deg, r5.r AS rank_ppm
         |FROM r5 JOIN deg d ON r5.node = d.src""".stripMargin,

    // Collocation lift: the struct-comprehension bigram idiom (x35);
    // all four counts derive from ONE bigram CTE on both engines;
    // HUGEINT cross-products (c1·c2 alone exceeds BIGINT at scale).
    "x100_collocations" ->
      """WITH sp AS (
        |  SELECT string_split(coalesce(text, ''), ' ') AS s
        |  FROM documents),
        |bi AS (
        |  SELECT unnest([{'w1': s[i], 'w2': s[i+1]}
        |                 FOR i IN range(1, len(s))]) AS p
        |  FROM sp),
        |b AS (
        |  SELECT p.w1 AS w1, p.w2 AS w2 FROM bi
        |  WHERE p.w1 <> '' AND p.w2 <> ''),
        |cnt AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM b GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(pair_cnt) AS BIGINT) AS n_total FROM cnt),
        |c1 AS (SELECT w1, CAST(sum(pair_cnt) AS BIGINT) AS c1
        |       FROM cnt GROUP BY 1),
        |c2 AS (SELECT w2, CAST(sum(pair_cnt) AS BIGINT) AS c2
        |       FROM cnt GROUP BY 1)
        |SELECT cnt.w1, cnt.w2, cnt.pair_cnt,
        |       CAST(CAST(1000000 AS HUGEINT) * tot.n_total * cnt.pair_cnt
        |            // (CAST(c1.c1 AS HUGEINT) * c2.c2) AS BIGINT)
        |         AS lift_ppm
        |FROM cnt JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
        |WHERE cnt.pair_cnt >= 5""".stripMargin,

    // Missing-day detection: generate each type's calendar span,
    // anti-join the observed days; the click outage on days
    // 19730/19740 is filtered out identically on both sides.
    "x101_ingest_gaps" ->
      """WITH e AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL),
        |f AS (
        |  SELECT * FROM e
        |  WHERE NOT (event_type = 'click' AND day IN (19730, 19740))),
        |daily AS (SELECT event_type, day FROM f GROUP BY 1, 2),
        |span AS (SELECT event_type, min(day) AS d0, max(day) AS d1
        |         FROM daily GROUP BY 1),
        |expected AS (
        |  SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM span)
        |SELECT x.event_type, x.day AS missing_day
        |FROM expected x LEFT JOIN daily o
        |  ON x.event_type = o.event_type AND x.day = o.day
        |WHERE o.day IS NULL""".stripMargin,

    // Bot flags: the planted grid stream re-derived (make_timestamp
    // takes epoch MICROSECONDS); one lag window + two per-user
    // aggregates, thresholds inlined to match the Spark defaults.
    "x102_bot_flags" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, 9000000 + event_id // 2000,
        |         make_timestamp(1704067200000000 + (event_id // 120) * 500000)
        |  FROM events WHERE event_id % 120 = 0),
        |e AS (SELECT user_id, event_id, epoch_us(t) AS us
        |      FROM ev WHERE t IS NOT NULL),
        |g AS (
        |  SELECT user_id, event_id, us // 86400000000 AS day,
        |         us - lag(us) OVER (PARTITION BY user_id
        |                            ORDER BY us, event_id) AS gap
        |  FROM e),
        |gu AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |         min(gap) AS min_gap_us
        |  FROM g GROUP BY 1),
        |dd AS (SELECT user_id, day, count(*) AS c FROM g GROUP BY 1, 2),
        |du AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS active_days,
        |         CAST(max(c) AS BIGINT) AS max_day_events
        |  FROM dd GROUP BY 1)
        |SELECT gu.user_id, gu.n_events, du.active_days, du.max_day_events,
        |       gu.min_gap_us,
        |       (du.max_day_events > 12 OR
        |        (gu.min_gap_us IS NOT NULL AND gu.min_gap_us < 1000000))
        |         AS is_bot
        |FROM gu JOIN du USING (user_id)""".stripMargin,

    // Priority sampling: the salted md5-32 draw (the shared idiom) +
    // integer priority w·2³² div u; top-100 by (priority, doc_id).
    "x109_weighted_sample" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         CAST(greatest(coalesce(n_chars, 0), 1) AS BIGINT) AS weight,
        |         ('0x' || substr(md5('ws1:' || CAST(doc_id AS VARCHAR)),
        |                         1, 8))::BIGINT + 1 AS u
        |  FROM documents)
        |SELECT doc_id, weight,
        |       CAST(CAST(weight AS HUGEINT) * 4294967296 // u AS BIGINT)
        |         AS priority
        |FROM w
        |QUALIFY row_number() OVER (ORDER BY priority DESC, doc_id) <= 100""".stripMargin,

    // A/B assignment + SRM: bucket = salted md5-32 mod 1000; realized
    // vs configured allocation in ppm with the absolute deviation.
    "x110_ab_assignment" ->
      """WITH b AS (
        |  SELECT ('0x' || substr(md5('exp1:' || CAST(c_custkey AS VARCHAR)),
        |                         1, 8))::BIGINT % 1000 AS bucket
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |a AS (
        |  SELECT CASE WHEN bucket < 500 THEN 'control'
        |              ELSE 'treatment' END AS arm
        |  FROM b),
        |c AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_units
        |      FROM a GROUP BY 1),
        |p AS (SELECT * FROM (VALUES ('control', CAST(500 AS BIGINT)),
        |                            ('treatment', CAST(500 AS BIGINT)))
        |      t(arm, ppt)),
        |tt AS (SELECT CAST(sum(n_units) AS BIGINT) AS n_total FROM c)
        |SELECT c.arm, p.ppt, c.n_units, p.ppt * 1000 AS target_ppm,
        |       1000000 * c.n_units // tt.n_total AS actual_ppm,
        |       abs(1000000 * c.n_units // tt.n_total - p.ppt * 1000)
        |         AS dev_ppm
        |FROM c JOIN p USING (arm) CROSS JOIN tt""".stripMargin,

    // Attribution-window sweep: the x83 ASOF construction UNGATED,
    // then three window predicates over the joined purchase frame.
    "x111_attribution_windows" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS pus
        |      FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, us AS tus, event_id AS touch_id,
        |             row_number() OVER (PARTITION BY user_id, us
        |                                ORDER BY event_id DESC) AS rn
        |      FROM e WHERE event_type IN ('view', 'click') QUALIFY rn = 1),
        |j AS (
        |  SELECT p.purchase_id, p.pus - t.tus AS lag_us
        |  FROM p ASOF LEFT JOIN t
        |    ON p.user_id = t.user_id AND p.pus >= t.tus),
        |w AS (SELECT CAST(window_minutes AS BIGINT) AS window_minutes
        |      FROM (VALUES (30), (60), (120)) v(window_minutes))
        |SELECT w.window_minutes,
        |       CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(sum(CASE WHEN j.lag_us IS NOT NULL
        |                       AND j.lag_us <= w.window_minutes * 60000000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
        |       CASE WHEN count(*) = 0 THEN 0
        |            ELSE 1000000 *
        |                 CAST(sum(CASE WHEN j.lag_us IS NOT NULL
        |                             AND j.lag_us <= w.window_minutes * 60000000
        |                           THEN 1 ELSE 0 END) AS BIGINT)
        |                 // CAST(count(*) AS BIGINT) END AS rate_ppm
        |FROM j CROSS JOIN w GROUP BY 1""".stripMargin,

    // Salted join ≡ plain join: the oracle is the UNSALTED SQL join —
    // structural cross-proof that salting changes layout, not results.
    "x112_salted_join" ->
      """SELECT c.c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,

    // Vocab coverage: the x26 vocabulary CTE verbatim (count DESC,
    // token tiebreak, LIMIT 20) + a membership left join per source.
    "x113_vocab_coverage" ->
      """WITH v AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY count(*) DESC, token LIMIT 20),
        |f AS (
        |  SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS token
        |  FROM documents),
        |g AS (SELECT source, token FROM f WHERE length(token) > 0)
        |SELECT g.source, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_in_vocab,
        |       1000000 * CAST(sum(CASE WHEN v.token IS NOT NULL
        |                              THEN 1 ELSE 0 END) AS BIGINT)
        |         // CAST(count(*) AS BIGINT) AS coverage_ppm
        |FROM g LEFT JOIN v ON g.token = v.token
        |GROUP BY 1""".stripMargin,

    // LTV percentiles: naive global row_number ranking cross-proves
    // the decomposed histogram selection; target rank ⌈p·n/100⌉.
    "x118_ltv_quantiles" ->
      """WITH l AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |              AS BIGINT) AS ltv
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |r AS (SELECT ltv, row_number() OVER (ORDER BY ltv) AS rn FROM l),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_customers FROM l)
        |SELECT CAST(ps.p AS INT) AS p, t.n_customers, r.ltv AS ltv_cents_at_p
        |FROM (VALUES (50), (90), (99)) ps(p), t, r
        |WHERE r.rn = (ps.p * t.n_customers + 99) // 100""".stripMargin,

    // Degree histogram over the x18 pair set.
    "x119_degree_histogram" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT i.a_id, i.b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  d AS (
         |    SELECT x, CAST(count(*) AS BIGINT) AS deg
         |    FROM (SELECT a_id AS x FROM pairs
         |          UNION ALL SELECT b_id FROM pairs)
         |    GROUP BY 1)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM d GROUP BY 1""".stripMargin,

    // RRF fusion of the x3 cosine ranking and the raw inner-product
    // ranking (both brute-force constructions), Σ 1e6 // (60 + rank).
    "x120_rrf_fuse" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |     s AS (SELECT query_id, vec_id,
        |                  list_dot_product(qv, v) AS d,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) *
        |                     sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id),
        |r1 AS (SELECT query_id, vec_id AS neighbor_id,
        |              row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY cos DESC, vec_id) AS rnk
        |       FROM s QUALIFY rnk <= 10),
        |r2 AS (SELECT query_id, vec_id AS neighbor_id,
        |              row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY d DESC, vec_id) AS rnk
        |       FROM s QUALIFY rnk <= 10),
        |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |f AS (SELECT query_id, neighbor_id,
        |             CAST(count(*) AS BIGINT) AS n_lists,
        |             CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_ppm
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, n_lists, rrf_ppm,
        |       CAST(row_number() OVER (PARTITION BY query_id
        |                               ORDER BY rrf_ppm DESC, neighbor_id)
        |            AS INT) AS fused_rank
        |FROM f QUALIFY fused_rank <= 5""".stripMargin,

    // Audio energy: hex-slice windows at 2 chars/byte (the x17
    // technique), per-window byte sum via a bounded comprehension;
    // DuckDB slicing is 1-based INCLUSIVE.
    // Shot boundaries: the 15-bit per-frame signature GENERATED from
    // the same (i, i+1) byte comparisons the Spark side folds (the x7
    // generated-oracle discipline); lag window + bit_count(xor).
    "x255_shot_boundaries" ->
      s"""WITH m AS (
         |  SELECT doc_id, hex(encode(text)) AS ph,
         |         greatest(octet_length(encode(text)) // 8, 1) AS step
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, CAST(i AS INT) AS frame_idx,
         |         substr(ph, 2*i*step + 1, 32) AS fh
         |  FROM m, range(0, 8) t(i)
         |  WHERE length(substr(ph, 2*i*step + 1, 32)) = 32),
         |s AS (SELECT doc_id, frame_idx, ($shotSigTerms) AS sig FROM f),
         |l AS (
         |  SELECT doc_id, sig,
         |         lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx)
         |           AS prev
         |  FROM s),
         |h AS (SELECT doc_id, bit_count(xor(sig, prev)) AS hamming
         |      FROM l WHERE prev IS NOT NULL)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |       CAST(sum(CASE WHEN hamming >= 10 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_boundaries,
         |       CAST(max(hamming) AS BIGINT) AS max_hamming
         |FROM h GROUP BY 1""".stripMargin,

    "x124_audio_energy" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
        |         lower(hex(encode(text))) AS h,
        |         octet_length(encode(text)) AS nb
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |w AS (
        |  SELECT doc_id, kind, h,
        |         unnest(range(0, (nb + 31) // 32)) AS widx
        |  FROM m),
        |s AS (
        |  SELECT doc_id, kind, CAST(widx AS INT) AS window_idx,
        |         h[widx * 64 + 1 : widx * 64 + 64] AS whex
        |  FROM w)
        |SELECT doc_id, kind, window_idx,
        |       CAST(length(whex) // 2 AS BIGINT) AS n_bytes,
        |       CAST(list_sum([('0x' || whex[2 * i - 1 : 2 * i])::BIGINT
        |                      FOR i IN range(1, length(whex) // 2 + 1)])
        |            AS BIGINT) AS energy
        |FROM s""".stripMargin,

    // Perceptual media near-dup: the dHash signature recomputed
    // byte-for-byte from hex(encode(text)) — 65 truncating-division
    // samples, bit i = s[i] > s[i+1], packed into four 16-bit band
    // ints — then BRUTE-FORCED over all pairs (the banded Spark
    // plan's cross-proof; banded ≡ brute force by pigeonhole at
    // hamming <= 3).
    "x135_media_neardup" ->
      """WITH m AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |         substr(text, 1, 10) || 'Q' || substr(text, 12) AS text
        |  FROM documents WHERE doc_id % 25 = 0 AND length(text) >= 12),
        |b AS (
        |  SELECT doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS len
        |  FROM m WHERE text IS NOT NULL AND octet_length(encode(text)) > 0),
        |s AS (
        |  SELECT doc_id,
        |         [('0x' || h[2 * CAST((i * len) // 65 AS BIGINT) + 1 :
        |                     2 * CAST((i * len) // 65 AS BIGINT) + 2])::INT
        |          FOR i IN range(0, 65)] AS smp
        |  FROM b),
        |sig AS (
        |  SELECT doc_id,
        |         [CAST(list_sum([CASE WHEN smp[16 * k + j + 1] >
        |                                   smp[16 * k + j + 2]
        |                              THEN (1 << j) ELSE 0 END
        |                         FOR j IN range(0, 16)]) AS INT)
        |          FOR k IN range(0, 4)] AS bands
        |  FROM s),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
        |         CAST(bit_count(xor(a.bands[1], c.bands[1])) +
        |              bit_count(xor(a.bands[2], c.bands[2])) +
        |              bit_count(xor(a.bands[3], c.bands[3])) +
        |              bit_count(xor(a.bands[4], c.bands[4])) AS INT) AS hamming
        |  FROM sig a JOIN sig c ON a.doc_id < c.doc_id)
        |SELECT doc_id_a, doc_id_b, hamming
        |FROM pairs WHERE hamming <= 3""".stripMargin,

    // Incremental media near-dup: identical signature machinery, but
    // the pair set is the corpus×batch CROSS product only (the index
    // probe's semantics) — side-tagged union so the sig CTE runs once.
    "x136_incr_media_neardup" ->
      """WITH m AS (
        |  SELECT 'c' AS side, doc_id, text FROM documents
        |  WHERE doc_id % 10 <> 0
        |  UNION ALL
        |  SELECT 'b', doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'b', doc_id + 2000000,
        |         substr(text, 1, 10) || 'Q' || substr(text, 12)
        |  FROM documents
        |  WHERE doc_id % 10 <> 0 AND doc_id % 25 = 0 AND length(text) >= 12),
        |b AS (
        |  SELECT side, doc_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS len
        |  FROM m WHERE text IS NOT NULL AND octet_length(encode(text)) > 0),
        |s AS (
        |  SELECT side, doc_id,
        |         [('0x' || h[2 * CAST((i * len) // 65 AS BIGINT) + 1 :
        |                     2 * CAST((i * len) // 65 AS BIGINT) + 2])::INT
        |          FOR i IN range(0, 65)] AS smp
        |  FROM b),
        |sig AS (
        |  SELECT side, doc_id,
        |         [CAST(list_sum([CASE WHEN smp[16 * k + j + 1] >
        |                                   smp[16 * k + j + 2]
        |                              THEN (1 << j) ELSE 0 END
        |                         FOR j IN range(0, 16)]) AS INT)
        |          FOR k IN range(0, 4)] AS bands
        |  FROM s),
        |pairs AS (
        |  SELECT c.doc_id AS doc_id_corpus, p.doc_id AS doc_id_batch,
        |         CAST(bit_count(xor(c.bands[1], p.bands[1])) +
        |              bit_count(xor(c.bands[2], p.bands[2])) +
        |              bit_count(xor(c.bands[3], p.bands[3])) +
        |              bit_count(xor(c.bands[4], p.bands[4])) AS INT) AS hamming
        |  FROM sig c JOIN sig p ON c.side = 'c' AND p.side = 'b')
        |SELECT doc_id_corpus, doc_id_batch, hamming
        |FROM pairs WHERE hamming <= 3""".stripMargin,

    // Trimmed mean: the NAIVE ranked-window construction (rank ties
    // need no tiebreak — tied rows share the value, so the kept sum
    // is tiebreak-invariant) cross-proving the histogram carve.
    "x143_trimmed_mean" ->
      """WITH d AS (
        |  SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
        |r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM d),
        |k AS (
        |  SELECT lang, CAST(n AS BIGINT) AS n, n_chars,
        |         CASE WHEN rk > (5 * n + 99) // 100
        |               AND rk <= n - (5 * n + 99) // 100
        |              THEN 1 ELSE 0 END AS kept
        |  FROM r)
        |SELECT lang, max(n) AS n,
        |       CAST(sum(kept) AS BIGINT) AS n_kept,
        |       CAST(coalesce(sum(n_chars * kept), 0) AS BIGINT) AS kept_sum,
        |       CAST(CASE WHEN sum(kept) = 0 THEN 0
        |                 WHEN sum(n_chars * kept) >= 0
        |                 THEN 1000 * sum(n_chars * kept) // sum(kept)
        |                 ELSE -(1000 * -sum(n_chars * kept) // sum(kept))
        |            END AS BIGINT) AS trimmed_mean_x1000
        |FROM k GROUP BY lang""".stripMargin,

    // Spearman: identical doubled-average-rank construction (value
    // histogram + prefix) and signed-square ppm, HUGEINT moments,
    // staged division (q = 10^6|num| // dmax, then q*|num| // dmin)
    // mirroring the Spark side exactly — operands non-negative, so
    // DuckDB's flooring // equals Spark's truncating DIV.
    "x141_spearman" ->
      """WITH d AS (
        |  SELECT n_chars AS x,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
        |  FROM documents WHERE text IS NOT NULL
        |    AND n_chars IS NOT NULL),
        |hx AS (
        |  SELECT x, 2 * coalesce(sum(cnt) OVER (ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + cnt + 1 AS rx
        |  FROM (SELECT x, count(*) AS cnt FROM d GROUP BY x)),
        |hy AS (
        |  SELECT y, 2 * coalesce(sum(cnt) OVER (ORDER BY y
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + cnt + 1 AS ry
        |  FROM (SELECT y, count(*) AS cnt FROM d GROUP BY y)),
        |r AS (
        |  SELECT rx, ry FROM d JOIN hx USING (x) JOIN hy USING (y)),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
        |         sum(rx * ry) AS sxy, sum(rx * rx) AS sxx,
        |         sum(ry * ry) AS syy
        |  FROM r),
        |f AS (
        |  SELECT m, m * sxy - sx * sy AS num,
        |         m * sxx - sx * sx AS denx, m * syy - sy * sy AS deny
        |  FROM m)
        |SELECT m AS n_pairs,
        |       CAST(CASE WHEN m < 2 OR denx <= 0 OR deny <= 0 THEN 0
        |                 ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END) *
        |                      ((1000000 * abs(num) // greatest(denx, deny))
        |                       * abs(num) // least(denx, deny))
        |            END AS BIGINT) AS rho2_signed_ppm
        |FROM f""".stripMargin,

    // Contract check: the same per-column expectations re-derived as
    // two independent aggregate rows (lo/hi literals mirror the
    // Spark-side contract).
    "x140_contract_check" ->
      """WITH a AS (
        |  SELECT 'doc_id' AS "column",
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(*) FILTER (doc_id IS NULL) AS BIGINT) AS n_null,
        |         CAST(min(doc_id) AS BIGINT) AS observed_lo,
        |         CAST(max(doc_id) AS BIGINT) AS observed_hi,
        |         CAST(0 AS BIGINT) AS max_null_ppm,
        |         CAST(0 AS BIGINT) AS lo, CAST(10000000 AS BIGINT) AS hi
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars',
        |         CAST(count(*) AS BIGINT),
        |         CAST(count(*) FILTER (n_chars IS NULL) AS BIGINT),
        |         CAST(min(n_chars) AS BIGINT), CAST(max(n_chars) AS BIGINT),
        |         0, 1, 500
        |  FROM documents)
        |SELECT "column", n_rows, n_null,
        |       CAST(CASE WHEN n_rows = 0 THEN 0
        |                 ELSE 1000000 * n_null // n_rows END AS BIGINT) AS null_ppm,
        |       observed_lo, observed_hi,
        |       (CASE WHEN n_rows = 0 THEN 0
        |             ELSE 1000000 * n_null // n_rows END) > max_null_ppm
        |         AS null_violation,
        |       coalesce(observed_lo < lo OR observed_hi > hi, FALSE)
        |         AS range_violation
        |FROM a""".stripMargin,

    // Calibration: DuckDB's NATIVE ntile over (n_chars, doc_id) —
    // the independent construction the closed-form carve must match.
    "x138_calibration" ->
      """WITH e AS (
        |  SELECT doc_id, n_chars,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |b AS (
        |  SELECT *, ntile(10) OVER (ORDER BY n_chars, doc_id) AS bucket
        |  FROM e)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(pos) AS BIGINT) AS n_pos,
        |       CAST(1000000 * sum(pos) // count(*) AS BIGINT) AS pos_ppm,
        |       min(n_chars) AS score_lo, max(n_chars) AS score_hi
        |FROM b GROUP BY bucket""".stripMargin,

    // k-anonymity: GROUP BY the quasi-identifier tuple, HAVING < k.
    "x139_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM customer
        |GROUP BY 1, 2, 3
        |HAVING count(*) < 10""".stripMargin,

    // Repeat-purchase cadence: identical gap construction + the x127
    // rank-selection filter.
    "x166_repeat_purchase" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |           // 86400000000 AS day
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL),
        |g AS (
        |  SELECT o_custkey,
        |         day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day)
        |           AS gap_days
        |  FROM o),
        |gs AS (
        |  SELECT c.c_mktsegment, g.gap_days
        |  FROM g JOIN customer c ON g.o_custkey = c.c_custkey
        |  WHERE g.gap_days IS NOT NULL),
        |h AS (SELECT c_mktsegment, gap_days, CAST(count(*) AS BIGINT) AS cnt
        |      FROM gs GROUP BY 1, 2),
        |cumt AS (
        |  SELECT c_mktsegment, gap_days, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY c_mktsegment
        |              ORDER BY gap_days) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY c_mktsegment) AS BIGINT)
        |           AS n
        |  FROM h),
        |t AS (SELECT c_mktsegment, gap_days, cnt, cum, n,
        |             unnest([50, 90]) AS p
        |      FROM cumt)
        |SELECT c_mktsegment, CAST(p AS INT) AS p, n AS n_gaps,
        |       gap_days AS gap_days_at_p
        |FROM t WHERE cum >= (p * n + 99) // 100
        |        AND cum - cnt < (p * n + 99) // 100""".stripMargin,

    // Soft dedup: identical digest + per-row integral divisions.
    "x164_soft_dedup_weights" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
        |           AS n_tokens,
        |         md5(coalesce(text, '')) AS h
        |  FROM documents),
        |c AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies
        |      FROM b GROUP BY h)
        |SELECT doc_id, n_copies, n_tokens,
        |       1000000 // n_copies AS weight_ppm,
        |       n_tokens * 1000000 // n_copies AS weighted_tokens_ppm
        |FROM b JOIN c USING (h)""".stripMargin,

    // Contribution cap: the same rank window + per-type rollup.
    "x165_contribution_cap" ->
      """WITH r AS (
        |  SELECT event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
        |           AS rn
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |       CAST(count(*) FILTER (WHERE rn <= 30) AS BIGINT) AS n_kept,
        |       CAST(count(*) - count(*) FILTER (WHERE rn <= 30) AS BIGINT)
        |         AS n_dropped,
        |       1000000 * CAST(count(*) FILTER (WHERE rn <= 30) AS BIGINT)
        |         // CAST(count(*) AS BIGINT) AS kept_ppm
        |FROM r GROUP BY event_type""".stripMargin,

    // Bounce rate: the x29 sessionization chain with a row_number
    // entry pick (vs Spark's struct arg-min — independent
    // constructions of the same (us, event_id) total order).
    "x163_bounce_rate" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |lagged AS (
        |  SELECT user_id, event_id, event_type, us,
        |         lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |           AS prev_us
        |  FROM e),
        |labeled AS (
        |  SELECT user_id, event_id, event_type, us,
        |         CAST(sum(CASE WHEN prev_us IS NULL
        |                       OR us - prev_us > 1800000000
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS session_idx
        |  FROM lagged),
        |per_session AS (
        |  SELECT user_id, session_idx,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM labeled GROUP BY 1, 2),
        |entries AS (
        |  SELECT user_id, session_idx, event_type AS entry_type
        |  FROM (SELECT user_id, session_idx, event_type,
        |               row_number() OVER (PARTITION BY user_id, session_idx
        |                                  ORDER BY us, event_id) AS rn
        |        FROM labeled) WHERE rn = 1)
        |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT)
        |         AS n_bounces,
        |       1000000 * CAST(count(*) FILTER (WHERE n_events = 1)
        |                      AS BIGINT) // CAST(count(*) AS BIGINT)
        |         AS bounce_ppm
        |FROM per_session JOIN entries USING (user_id, session_idx)
        |GROUP BY entry_type""".stripMargin,

    // Backlog curve: identical day fold on both legs, full-outer day
    // merge, cumulative windows (HUGEINT -> BIGINT).
    "x161_backlog_curve" ->
      """WITH o AS (
        |  SELECT l.l_orderkey,
        |         epoch_us(CAST(ord.o_orderdate AS TIMESTAMP))
        |           // 86400000000 AS day
        |  FROM lineitem l JOIN orders ord ON l.l_orderkey = ord.o_orderkey
        |  WHERE ord.o_orderdate IS NOT NULL),
        |od AS (SELECT day, CAST(count(*) AS BIGINT) AS n_ordered
        |       FROM o GROUP BY day),
        |sd AS (SELECT epoch_us(CAST(l_shipdate AS TIMESTAMP))
        |              // 86400000000 AS day,
        |              CAST(count(*) AS BIGINT) AS n_shipped
        |       FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT coalesce(od.day, sd.day) AS day,
        |         coalesce(od.n_ordered, 0) AS n_ordered,
        |         coalesce(sd.n_shipped, 0) AS n_shipped
        |  FROM od FULL OUTER JOIN sd ON od.day = sd.day)
        |SELECT day, n_ordered, n_shipped,
        |       CAST(sum(n_ordered) OVER (ORDER BY day) AS BIGINT)
        |         AS cum_ordered,
        |       CAST(sum(n_shipped) OVER (ORDER BY day) AS BIGINT)
        |         AS cum_shipped,
        |       CAST(sum(n_ordered) OVER (ORDER BY day) -
        |            sum(n_shipped) OVER (ORDER BY day) AS BIGINT)
        |         AS open_items
        |FROM m""".stripMargin,

    // Cohort LTV: identical week fold, shared cents expression,
    // per-cohort cumulative window.
    "x162_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |           // 604800000000 AS week,
        |         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_custkey IS NOT NULL),
        |c AS (SELECT o_custkey, min(week) AS cohort_week FROM o GROUP BY 1),
        |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        |       FROM c GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_week, o.week - c.cohort_week AS age_weeks,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(o.cents) AS BIGINT) AS revenue_cents
        |  FROM o JOIN c USING (o_custkey)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cells.*, sz.cohort_size,
        |         CAST(sum(revenue_cents) OVER (PARTITION BY cells.cohort_week
        |              ORDER BY age_weeks) AS BIGINT) AS cum_revenue_cents
        |  FROM cells JOIN sz USING (cohort_week))
        |SELECT cohort_week, age_weeks, n_orders, revenue_cents,
        |       cohort_size, cum_revenue_cents,
        |       cum_revenue_cents // cohort_size AS ltv_cents
        |FROM cum""".stripMargin,

    // Dedup savings: identical digest (md5 over coalesced text),
    // global min-doc_id keeper, per-source rollup.
    "x159_dedup_savings" ->
      """WITH b AS (
        |  SELECT doc_id, source, coalesce(n_chars, 0) AS nc,
        |         md5(coalesce(text, '')) AS h
        |  FROM documents),
        |k AS (SELECT h, min(doc_id) AS keeper_id FROM b GROUP BY h),
        |f AS (
        |  SELECT b.source, b.nc,
        |         CASE WHEN b.doc_id = k.keeper_id THEN 1 ELSE 0 END AS is_k
        |  FROM b JOIN k USING (h))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(is_k) AS BIGINT) AS n_kept,
        |       CAST(sum(nc) AS BIGINT) AS chars_total,
        |       CAST(sum(nc * is_k) AS BIGINT) AS chars_kept,
        |       CAST(CASE WHEN sum(nc) = 0 THEN 0
        |                 ELSE 1000000 * (sum(nc) - sum(nc * is_k))
        |                      // sum(nc) END AS BIGINT) AS removed_ppm
        |FROM f GROUP BY source""".stripMargin,

    // Term search: x27's tf*idf proxy summed per doc over the literal
    // term list, global top-10 on the (score desc, doc_id) order.
    "x160_term_search" ->
      """WITH tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' '))
        |               AS token
        |        FROM documents)
        |  WHERE length(token) > 0
        |    AND token IN ('customer', 'vector', 'merge')
        |  GROUP BY doc_id, token),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY token),
        |s AS (
        |  SELECT tf.doc_id,
        |         CAST(sum(tf.tf * 1000000 // dfq.df) AS BIGINT) AS score,
        |         CAST(count(*) AS BIGINT) AS n_terms_hit
        |  FROM tf JOIN dfq USING (token) GROUP BY tf.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
        |         AS "rank",
        |       doc_id, score, n_terms_hit
        |FROM s ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // Grouped fold: the shared md5-32 idiom over the GROUP (the
    // 32-bit value is non-negative, so % ≡ pmod).
    "x156_grouped_fold" ->
      """SELECT doc_id, source,
        |       ('0x' || substr(md5(source || 'fold-v1'), 1, 8))::BIGINT % 5
        |         AS fold
        |FROM documents""".stripMargin,

    // Class weights: one grouped count + the corpus totals, integer
    // inverse-frequency ppm.
    "x157_class_weights" ->
      """WITH d AS (SELECT label FROM embeddings WHERE label IS NOT NULL),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total,
        |         CAST(count(DISTINCT label) AS BIGINT) AS n_classes
        |  FROM d)
        |SELECT label, CAST(count(*) AS BIGINT) AS n, n_total, n_classes,
        |       1000000 * n_total // (n_classes * CAST(count(*) AS BIGINT))
        |         AS weight_ppm
        |FROM d CROSS JOIN tot GROUP BY label, n_total, n_classes""".stripMargin,

    // Kaplan-Meier: identical durations/censoring, at-risk from the
    // top-down cumulative, and the SAME ppm product recurrence run
    // through a recursive CTE (the sequential-product twin of the
    // Spark side's driver fold).
    "x158_kaplan_meier" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL
        |    AND event_type IN ('view', 'purchase')),
        |s AS (SELECT user_id, min(day) AS t0 FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |h AS (SELECT max(day) AS mx FROM e),
        |p AS (SELECT e.user_id, min(e.day) AS te
        |      FROM e JOIN s USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.day >= s.t0
        |      GROUP BY 1),
        |d AS (
        |  SELECT CASE WHEN p.te IS NOT NULL THEN p.te - s.t0
        |              ELSE h.mx - s.t0 END AS t,
        |         CASE WHEN p.te IS NOT NULL THEN 1 ELSE 0 END AS ob
        |  FROM s LEFT JOIN p USING (user_id) CROSS JOIN h),
        |hist AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt,
        |                CAST(sum(ob) AS BIGINT) AS d
        |         FROM d GROUP BY t),
        |r AS (SELECT t, d,
        |        CAST(sum(cnt) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
        |      FROM hist),
        |et AS (SELECT t, n_risk, d,
        |         CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS rn
        |       FROM r WHERE d >= 1),
        |km AS (
        |  SELECT CAST(0 AS BIGINT) AS rn, CAST(1000000 AS HUGEINT) AS sv
        |  UNION ALL
        |  SELECT et.rn, km.sv * (et.n_risk - et.d) // et.n_risk
        |  FROM km JOIN et ON et.rn = km.rn + 1)
        |SELECT et.t AS t_days, et.n_risk, et.d AS n_events,
        |       CAST(km.sv AS BIGINT) AS surv_ppm
        |FROM et JOIN km USING (rn)""".stripMargin,

    // Quantile normalization: an INDEPENDENT construction — the
    // oracle resolves each target rank with a correlated min()
    // subquery over the corpus cdf instead of the Spark side's
    // merged-boundary window; both must pick the identical smallest
    // >=-rank corpus value.
    "x154_quantile_normalize" ->
      """WITH d AS (
        |  SELECT CAST(source AS VARCHAR) AS source,
        |         CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |ch AS (
        |  SELECT v, sum(cnt) OVER (ORDER BY v) AS cum
        |  FROM (SELECT v, count(*) AS cnt FROM d GROUP BY v)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |sc AS (
        |  SELECT source, v, CAST(count(*) AS BIGINT) AS cnt_s
        |  FROM d GROUP BY 1, 2),
        |sr AS (
        |  SELECT source, v, cnt_s,
        |         CAST(sum(cnt_s) OVER (PARTITION BY source ORDER BY v)
        |              AS BIGINT) AS cum_s,
        |         CAST(sum(cnt_s) OVER (PARTITION BY source) AS BIGINT)
        |           AS n_s
        |  FROM sc),
        |t AS (
        |  SELECT source, v, cnt_s,
        |         CAST((CAST(cum_s AS HUGEINT) * n + n_s - 1) // n_s
        |              AS BIGINT) AS tr
        |  FROM sr CROSS JOIN tot)
        |SELECT source, v AS n_chars, cnt_s AS n_docs,
        |       (SELECT CAST(min(ch.v) AS BIGINT) FROM ch
        |        WHERE ch.cum >= t.tr) AS normalized_value
        |FROM t""".stripMargin,

    // Shrunk rate: the same beta-binomial posterior-mean arithmetic —
    // HUGEINT cross-products, // floor on non-negative operands.
    "x155_shrunk_rate" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars >= 250 AS BIGINT) AS f
        |  FROM documents WHERE n_chars IS NOT NULL),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total,
        |         CAST(sum(f) AS BIGINT) AS x_total
        |  FROM d),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(f) AS BIGINT) AS x
        |  FROM d GROUP BY 1)
        |SELECT source, n, x,
        |       1000000 * x // n AS raw_ppm,
        |       CAST(CAST(1000000 AS HUGEINT) *
        |            (x * CAST(n_total AS HUGEINT) + 100 * x_total)
        |            // (CAST(n_total AS HUGEINT) * (n + 100))
        |            AS BIGINT) AS shrunk_ppm
        |FROM g CROSS JOIN tot""".stripMargin,

    // Hard negatives: x3's double-precision cosine tree + the label
    // split; two rank-1 picks on the (cos desc, vec_id) total order,
    // verdict = a comparison of identically-computed doubles.
    "x151_hard_negatives" ->
      """WITH l AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
        |         label
        |  FROM embeddings WHERE label IS NOT NULL),
        |q AS (SELECT vec_id AS query_id, v AS qv, label AS q_label
        |      FROM l WHERE vec_id % 50 = 0
        |        AND sqrt(list_dot_product(v, v)) > 0),
        |c AS (SELECT * FROM l WHERE sqrt(list_dot_product(v, v)) > 0),
        |s AS (
        |  SELECT query_id, c.vec_id,
        |         list_dot_product(qv, c.v) /
        |           (sqrt(list_dot_product(qv, qv)) *
        |            sqrt(list_dot_product(c.v, c.v))) AS cos,
        |         (c.label = q_label) AS is_same
        |  FROM q, c WHERE c.vec_id <> query_id),
        |r AS (
        |  SELECT query_id, vec_id, cos, is_same,
        |         row_number() OVER (PARTITION BY query_id, is_same
        |                            ORDER BY cos DESC, vec_id) AS rn
        |  FROM s)
        |SELECT query_id,
        |       max(CASE WHEN is_same THEN vec_id END) AS nn_same_id,
        |       max(CASE WHEN NOT is_same THEN vec_id END) AS nn_diff_id,
        |       CASE WHEN max(CASE WHEN NOT is_same THEN cos END) IS NULL
        |              THEN false
        |            WHEN max(CASE WHEN is_same THEN cos END) IS NULL
        |              THEN true
        |            ELSE max(CASE WHEN NOT is_same THEN cos END) >
        |                 max(CASE WHEN is_same THEN cos END)
        |       END AS is_violated
        |FROM r WHERE rn = 1 GROUP BY query_id""".stripMargin,

    // l-diversity: one grouped distinct; count(DISTINCT) ignores
    // NULL sensitive values identically on both engines.
    "x152_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
        |            AS BIGINT) AS n_sensitive
        |FROM customer
        |GROUP BY 1, 2
        |HAVING count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 5
        |""".stripMargin,

    // CUSUM changepoint: the identical scaled-deviation running sum
    // and (|S| desc, day) argmax in DuckDB windows.
    "x153_changepoint" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, c,
        |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS n,
        |         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT)
        |           AS t
        |  FROM dc),
        |cs AS (
        |  SELECT event_type, day, n, t,
        |         CAST(sum(n * c - t) OVER (PARTITION BY event_type
        |              ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |              AND CURRENT ROW) AS BIGINT) AS s
        |  FROM w),
        |r AS (
        |  SELECT event_type, day, n, t, s,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY abs(s) DESC, day) AS rn
        |  FROM cs)
        |SELECT event_type, n AS n_days, t AS total_events, day AS cp_day,
        |       abs(s) AS cusum_abs,
        |       CAST(CASE WHEN t = 0 THEN 0
        |                 ELSE 1000000 * abs(s) // (n * t) END AS BIGINT)
        |         AS magnitude_ppm
        |FROM r WHERE rn = 1""".stripMargin,

    // Robust anomaly: the identical two-stage rank carve (median of
    // counts, then median of absolute deviations) re-derived in
    // DuckDB; rank = (n+1)//2 on both engines.
    "x148_robust_anomaly" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |h1 AS (SELECT event_type, c, count(*) AS h FROM dc GROUP BY 1, 2),
        |cum1 AS (SELECT event_type, c,
        |         sum(h) OVER (PARTITION BY event_type ORDER BY c) AS cum,
        |         sum(h) OVER (PARTITION BY event_type) AS n FROM h1),
        |med AS (SELECT event_type, CAST(min(c) AS BIGINT) AS med FROM cum1
        |        WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |dev AS (SELECT dc.event_type, dc.day, dc.c, med.med,
        |               abs(dc.c - med.med) AS abs_dev
        |        FROM dc JOIN med USING (event_type)),
        |h2 AS (SELECT event_type, abs_dev, count(*) AS h
        |       FROM dev GROUP BY 1, 2),
        |cum2 AS (SELECT event_type, abs_dev,
        |         sum(h) OVER (PARTITION BY event_type ORDER BY abs_dev)
        |           AS cum,
        |         sum(h) OVER (PARTITION BY event_type) AS n FROM h2),
        |mad AS (SELECT event_type, CAST(min(abs_dev) AS BIGINT) AS mad
        |        FROM cum2 WHERE cum >= (n + 1) // 2 GROUP BY 1)
        |SELECT dev.event_type, dev.day, dev.c AS n_events, dev.med,
        |       mad.mad, dev.abs_dev,
        |       ((mad.mad > 0 AND dev.abs_dev > 5 * mad.mad) OR
        |        (mad.mad = 0 AND dev.abs_dev > 0)) AS is_anomaly
        |FROM dev JOIN mad USING (event_type)""".stripMargin,

    // Growth accounting: distinct (user, day) + the lag classification
    // — FILTER aggregates mirror Spark's count(when(...)).
    "x149_growth_accounting" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL),
        |l AS (
        |  SELECT user_id, day,
        |         lag(day) OVER (PARTITION BY user_id ORDER BY day)
        |           AS prev_day
        |  FROM ud)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(count(*) FILTER (WHERE prev_day IS NULL) AS BIGINT)
        |         AS n_new,
        |       CAST(count(*) FILTER (WHERE day - prev_day <= 14) AS BIGINT)
        |         AS n_retained,
        |       CAST(count(*) FILTER (WHERE day - prev_day > 14) AS BIGINT)
        |         AS n_resurrected
        |FROM l GROUP BY day""".stripMargin,

    // Co-occurrence lift: the x29 sessionization chain, distinct
    // (session, type) memberships, pair self-join bounded within
    // sessions, HUGEINT ratio.
    "x150_cooccurrence_lift" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |lagged AS (
        |  SELECT user_id, event_id, event_type, us,
        |         lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |           AS prev_us
        |  FROM e),
        |labeled AS (
        |  SELECT user_id, event_type,
        |         CAST(sum(CASE WHEN prev_us IS NULL
        |                       OR us - prev_us > 1800000000
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS session_idx
        |  FROM lagged),
        |st AS (SELECT DISTINCT user_id, session_idx, event_type
        |       FROM labeled),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |       FROM (SELECT DISTINCT user_id, session_idx FROM st)),
        |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |       FROM st GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_ab
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND a.session_idx = b.session_idx
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_ab, ta.n_t AS n_a, tb.n_t AS n_b,
        |       ns.n_sessions,
        |       CAST(CAST(1000000 AS HUGEINT) * p.n_ab * ns.n_sessions
        |            // (CAST(ta.n_t AS HUGEINT) * tb.n_t) AS BIGINT)
        |         AS lift_ppm
        |FROM p JOIN tc ta ON p.type_a = ta.event_type
        |       JOIN tc tb ON p.type_b = tb.event_type
        |       CROSS JOIN ns""".stripMargin,

    // Chi-squared independence: the identical full-grid recurrence in
    // DuckDB — marginals from the cell frame, null-safe grid join
    // (IS NOT DISTINCT FROM ≡ Spark's <=>), per-cell HUGEINT
    // integral-division terms summed.
    "x144_chi2_independence" ->
      """WITH cells AS (
        |  SELECT c_nationkey AS a, c_mktsegment AS b,
        |         CAST(count(*) AS BIGINT) AS o
        |  FROM customer GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |               (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_a,
        |               (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_b
        |        FROM cells),
        |obs AS (
        |  SELECT g.r, g.c, coalesce(cells.o, 0) AS o
        |  FROM (SELECT rt.a, rt.r, ct.b, ct.c FROM rt CROSS JOIN ct) g
        |  LEFT JOIN cells ON g.a IS NOT DISTINCT FROM cells.a
        |                 AND g.b IS NOT DISTINCT FROM cells.b),
        |terms AS (
        |  SELECT n, n_a, n_b,
        |         CAST(1000000 AS HUGEINT) *
        |         (o * CAST(n AS HUGEINT) - CAST(r AS HUGEINT) * c) *
        |         (o * CAST(n AS HUGEINT) - CAST(r AS HUGEINT) * c)
        |         // (CAST(n AS HUGEINT) * r * c) AS term
        |  FROM obs CROSS JOIN tot)
        |SELECT n, n_a, n_b, (n_a - 1) * (n_b - 1) AS dof,
        |       CAST(sum(term) AS BIGINT) AS chi2_ppm,
        |       CAST(CASE WHEN n_a < 2 OR n_b < 2 OR n = 0 THEN 0
        |                 ELSE sum(term) //
        |                      (CAST(n AS HUGEINT) * least(n_a - 1, n_b - 1))
        |            END AS BIGINT) AS v2_ppm
        |FROM terms GROUP BY n, n_a, n_b""".stripMargin,

    // Seasonal-naive backtest: the identical dense-grid construction
    // (generate_series ≡ Spark's sequence, both inclusive), lag
    // windows over the grid, common evaluation window.
    "x145_seasonal_naive" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |b AS (SELECT event_type, min(day) AS mn, max(day) AS mx
        |      FROM dc GROUP BY 1),
        |grid AS (SELECT event_type,
        |                unnest(generate_series(mn, mx)) AS day FROM b),
        |dense AS (
        |  SELECT g.event_type, g.day, coalesce(dc.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN dc
        |    ON g.event_type = dc.event_type AND g.day = dc.day),
        |l AS (
        |  SELECT event_type, cnt,
        |         lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS ps,
        |         lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS pl
        |  FROM dense)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(cnt) AS BIGINT) AS sum_actual,
        |       CAST(sum(abs(cnt - ps)) AS BIGINT) AS abs_err_short,
        |       CAST(sum(abs(cnt - pl)) AS BIGINT) AS abs_err_long,
        |       CAST(CASE WHEN sum(cnt) = 0 THEN 0
        |                 ELSE 1000000 * sum(abs(cnt - ps)) // sum(cnt)
        |            END AS BIGINT) AS wape_short_ppm,
        |       CAST(CASE WHEN sum(cnt) = 0 THEN 0
        |                 ELSE 1000000 * sum(abs(cnt - pl)) // sum(cnt)
        |            END AS BIGINT) AS wape_long_ppm
        |FROM l WHERE pl IS NOT NULL GROUP BY 1""".stripMargin,

    // Burstiness: per-user gap moments via the lag window — the gap
    // multiset is invariant under same-timestamp tie order, so ORDER
    // BY us alone is deterministic on both engines.
    "x146_burstiness" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (
        |  SELECT user_id,
        |         us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
        |  FROM e),
        |a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |         CAST(sum(gap) AS BIGINT) AS span_us,
        |         sum(CAST(gap AS HUGEINT) * gap) AS sumsq
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps, span_us,
        |       CAST(CASE WHEN span_us = 0 THEN 0
        |                 ELSE CAST(1000000 AS HUGEINT) *
        |                      (n_gaps * sumsq -
        |                       CAST(span_us AS HUGEINT) * span_us)
        |                      // (CAST(span_us AS HUGEINT) * span_us)
        |            END AS BIGINT) AS cv2_ppm
        |FROM a WHERE n_gaps >= 2""".stripMargin,

    // Mann-Whitney U: the identical doubled-tie-average-rank
    // construction (value histogram split by group + prefix window),
    // HUGEINT rank sums, // floor on non-negative operands only.
    "x147_mannwhitney" ->
      """WITH d AS (
        |  SELECT n_chars AS v, (lang = 'en') AS is_a
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |h AS (
        |  SELECT v,
        |         CAST(count(*) FILTER (WHERE is_a) AS BIGINT) AS cnt_a,
        |         CAST(count(*) FILTER (WHERE NOT is_a) AS BIGINT) AS cnt_b,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY v),
        |r AS (
        |  SELECT cnt_a, cnt_b,
        |         2 * coalesce(sum(cnt) OVER (ORDER BY v
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         + cnt + 1 AS r2
        |  FROM h),
        |m AS (
        |  SELECT CAST(coalesce(sum(cnt_a), 0) AS BIGINT) AS n_a,
        |         CAST(coalesce(sum(cnt_b), 0) AS BIGINT) AS n_b,
        |         sum(CAST(cnt_a AS HUGEINT) * r2) AS r2a,
        |         sum(CAST(cnt_b AS HUGEINT) * r2) AS r2b
        |  FROM r)
        |SELECT n_a, n_b,
        |       CAST(coalesce(r2a - CAST(n_a AS HUGEINT) * (n_a + 1), 0)
        |            AS BIGINT) AS u2_a,
        |       CAST(coalesce(r2b - CAST(n_b AS HUGEINT) * (n_b + 1), 0)
        |            AS BIGINT) AS u2_b,
        |       CAST(CASE WHEN n_a = 0 OR n_b = 0 THEN 0
        |                 ELSE CAST(1000000 AS HUGEINT) *
        |                      (r2a - CAST(n_a AS HUGEINT) * (n_a + 1))
        |                      // (CAST(2 AS HUGEINT) * n_a * n_b)
        |            END AS BIGINT) AS cles_ppm
        |FROM m""".stripMargin,

    // Rater agreement: the same confusion-matrix arithmetic spelled in
    // DuckDB — HUGEINT cross-products, // floor on non-negative
    // operands only (kappa sign-decomposed, McNemar squared).
    "x137_rater_agreement" ->
      """WITH e AS (
        |  SELECT label % 2 AS ra,
        |         CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END AS rb
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND len(embedding) >= 1),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (ra = 0 AND rb = 0) AS BIGINT) AS n00,
        |         CAST(count(*) FILTER (ra = 0 AND rb = 1) AS BIGINT) AS n01,
        |         CAST(count(*) FILTER (ra = 1 AND rb = 0) AS BIGINT) AS n10,
        |         CAST(count(*) FILTER (ra = 1 AND rb = 1) AS BIGINT) AS n11
        |  FROM e),
        |p AS (
        |  SELECT *,
        |         CAST(CASE WHEN n = 0 THEN 0
        |              ELSE 1000000 * (n00 + n11) // n END AS BIGINT) AS po_ppm,
        |         CAST(CASE WHEN n = 0 THEN 0
        |              ELSE 1000000 * ((n00 + n01) * (n00 + n10) +
        |                              (n10 + n11) * (n01 + n11))
        |                   // (n * n) END AS BIGINT) AS pe_ppm
        |  FROM c)
        |SELECT n, n00, n01, n10, n11, po_ppm, pe_ppm,
        |       CAST(CASE WHEN pe_ppm >= 1000000 THEN 0
        |                 WHEN po_ppm >= pe_ppm
        |                 THEN 1000000 * (po_ppm - pe_ppm) // (1000000 - pe_ppm)
        |                 ELSE -(1000000 * (pe_ppm - po_ppm) // (1000000 - pe_ppm))
        |            END AS BIGINT) AS kappa_ppm,
        |       CAST(CASE WHEN n01 + n10 = 0 THEN 0
        |                 ELSE 1000 * (n01 - n10) * (n01 - n10) // (n01 + n10)
        |            END AS BIGINT) AS mcnemar_x1000
        |FROM p""".stripMargin,

    // Segment funnel: the x75 dependent chain + a left segment join
    // per stage frame.
    "x133_segment_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, min(us) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) AS t
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.us > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) AS t
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t GROUP BY 1),
        |d AS (SELECT c_custkey AS user_id, c_mktsegment AS segment
        |      FROM customer)
        |SELECT d.segment, CAST(1 AS INT) AS stage, 'view' AS event_type,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM s1 LEFT JOIN d USING (user_id) GROUP BY 1
        |UNION ALL
        |SELECT d.segment, CAST(2 AS INT), 'click',
        |       CAST(count(*) AS BIGINT)
        |FROM s2 LEFT JOIN d USING (user_id) GROUP BY 1
        |UNION ALL
        |SELECT d.segment, CAST(3 AS INT), 'purchase',
        |       CAST(count(*) AS BIGINT)
        |FROM s3 LEFT JOIN d USING (user_id) GROUP BY 1""".stripMargin,

    // KS drift: integer cdfs on the corpus value grid with
    // carry-forward source cumulatives.
    "x134_ks_drift" ->
      """WITH dd AS (
        |  SELECT source,
        |         CAST(length(coalesce(text, '')) AS BIGINT) AS v
        |  FROM documents),
        |ah AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM dd GROUP BY 1),
        |ac AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
        |       FROM ah),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM dd),
        |sh AS (SELECT source, v, CAST(count(*) AS BIGINT) AS scnt
        |       FROM dd GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
        |       FROM dd GROUP BY 1),
        |g AS (
        |  SELECT ns.source, ac.v, ac.cum_all, coalesce(sh.scnt, 0) AS scnt
        |  FROM ac CROSS JOIN ns
        |  LEFT JOIN sh ON sh.source = ns.source AND sh.v = ac.v),
        |c AS (
        |  SELECT source, v, cum_all,
        |         CAST(sum(scnt) OVER (PARTITION BY source ORDER BY v
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_src
        |  FROM g)
        |SELECT c.source, ns.n_src AS n_docs,
        |       CAST(max(abs(1000000 * c.cum_src // ns.n_src -
        |                    1000000 * c.cum_all // na.n_all)) AS BIGINT)
        |         AS ks_ppm
        |FROM c JOIN ns USING (source) CROSS JOIN na
        |GROUP BY 1, 2""".stripMargin,

    // Day-of-week profile: (epoch_day + 3) % 7 + 1, 1 = Monday.
    "x131_dow_profile" ->
      """WITH h AS (
        |  SELECT event_type,
        |         ((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) + 3)
        |           % 7 + 1 AS dow,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, dow, n_events,
        |       1000000 * n_events //
        |         CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
        |         AS share_ppm
        |FROM h""".stripMargin,

    // Lorenz deciles: naive DESC ranking joined onto the half-open
    // decile rank intervals ((d−1)·n//10, d·n//10] — the interval
    // semantics the Spark closed form carves arithmetically.
    "x132_lorenz_curve" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rn
        |      FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(sum(c) AS BIGINT) AS n_events FROM c),
        |dec AS (
        |  SELECT CAST(d AS INT) AS decile,
        |         (d - 1) * n_users // 10 AS lo, d * n_users // 10 AS hi
        |  FROM range(1, 11) v(d), t),
        |g AS (
        |  SELECT dec.decile, CAST(count(*) AS BIGINT) AS n_users_in,
        |         CAST(sum(r.c) AS BIGINT) AS n_events_in
        |  FROM r JOIN dec ON r.rn > dec.lo AND r.rn <= dec.hi
        |  GROUP BY 1)
        |SELECT g.decile, g.n_users_in, g.n_events_in,
        |       CAST(CAST(1000000 AS HUGEINT) *
        |            CAST(sum(g.n_events_in) OVER (ORDER BY g.decile
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |            // t.n_events AS BIGINT) AS cum_share_ppm
        |FROM g, t""".stripMargin,

    // Kendall τ: both brute-force rankings (the x120 CTEs), common
    // neighbors, pair products; sign-decomposed division (Spark DIV
    // and DuckDB 1.0.0's // both truncate — negatives never reach it).
    "x128_kendall_tau" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |     s AS (SELECT query_id, vec_id,
        |                  list_dot_product(qv, v) AS d,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) *
        |                     sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id),
        |r1 AS (SELECT query_id, vec_id AS neighbor_id,
        |              row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY cos DESC, vec_id) AS rnk
        |       FROM s QUALIFY rnk <= 10),
        |r2 AS (SELECT query_id, vec_id AS neighbor_id,
        |              row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY d DESC, vec_id) AS rnk
        |       FROM s QUALIFY rnk <= 10),
        |cm AS (SELECT r1.query_id, r1.neighbor_id,
        |              r1.rnk AS ra, r2.rnk AS rb
        |       FROM r1 JOIN r2 USING (query_id, neighbor_id)),
        |p AS (SELECT a.query_id,
        |             (a.ra - b.ra) * (a.rb - b.rb) AS prod
        |      FROM cm a JOIN cm b
        |        ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id),
        |g AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |             CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS concordant,
        |             CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END)
        |                  AS BIGINT) AS discordant
        |      FROM p GROUP BY 1)
        |SELECT query_id, n_pairs, concordant, discordant,
        |       CASE WHEN concordant + discordant = 0 THEN 0
        |            ELSE (CASE WHEN concordant >= discordant THEN 1
        |                       ELSE -1 END) *
        |                 (1000000 * abs(concordant - discordant)
        |                  // (concordant + discordant)) END AS tau_ppm
        |FROM g""".stripMargin,

    // Lag-1 autocorrelation: per-type daily counts, lead pairs,
    // moment sums in HUGEINT, signed-squared Pearson ppm.
    "x129_daily_autocorr" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, x,
        |         lead(x) OVER (PARTITION BY event_type ORDER BY day) AS y
        |  FROM dc),
        |f AS (SELECT * FROM l WHERE y IS NOT NULL),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS m,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM f GROUP BY 1),
        |b AS (
        |  SELECT event_type, m,
        |         m * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |         m * sxx - CAST(sx AS HUGEINT) * sx AS denx,
        |         m * syy - CAST(sy AS HUGEINT) * sy AS deny
        |  FROM a)
        |SELECT event_type, m AS n_pairs,
        |       CASE WHEN m < 2 OR denx <= 0 OR deny <= 0 THEN 0
        |            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |                      (CAST(1000000 AS HUGEINT) * num * num
        |                       // (denx * deny)) AS BIGINT) END
        |         AS r2_signed_ppm
        |FROM b""".stripMargin,

    // Benford: leading digit of integer cents, fixed ppm expectation
    // literals, exact deviations.
    "x130_benford" ->
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5)
        |                               AS BIGINT) AS VARCHAR), 1, 1)
        |              AS INT) AS digit
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |      FROM c WHERE digit >= 1 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM g),
        |e AS (SELECT * FROM (VALUES
        |        (1, CAST(301030 AS BIGINT)), (2, CAST(176091 AS BIGINT)),
        |        (3, CAST(124939 AS BIGINT)), (4, CAST(96910 AS BIGINT)),
        |        (5, CAST(79181 AS BIGINT)), (6, CAST(66947 AS BIGINT)),
        |        (7, CAST(57992 AS BIGINT)), (8, CAST(51153 AS BIGINT)),
        |        (9, CAST(45757 AS BIGINT))) v(digit, expected_ppm))
        |SELECT g.digit, g.n,
        |       1000000 * g.n // t.n_total AS actual_ppm,
        |       e.expected_ppm,
        |       abs(1000000 * g.n // t.n_total - e.expected_ppm) AS dev_ppm
        |FROM g JOIN e USING (digit) CROSS JOIN t""".stripMargin,

    // Percentile rank: cume_dist spelled in integers — windowed
    // cumulative count over value groups, 1e6·cum // n.
    "x125_percentile_rank" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
        |  FROM documents),
        |h AS (
        |  SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1),
        |c AS (
        |  SELECT n_chars,
        |         CAST(sum(cnt) OVER (ORDER BY n_chars
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS cum
        |  FROM h),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
        |SELECT d.doc_id, d.n_chars,
        |       CAST(CAST(1000000 AS HUGEINT) * c.cum // t.n AS BIGINT)
        |         AS pct_ppm
        |FROM d JOIN c USING (n_chars) CROSS JOIN t""".stripMargin,

    // Winsorize: rank-selected P5/P95 bounds + per-row clamp.
    "x126_winsorize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
        |  FROM documents),
        |r AS (SELECT n_chars,
        |             row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        |      FROM d),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |lo AS (SELECT min(n_chars) AS lo FROM r, t
        |       WHERE rn >= (5 * n + 99) // 100),
        |hi AS (SELECT min(n_chars) AS hi FROM r, t
        |       WHERE rn >= (95 * n + 99) // 100)
        |SELECT d.doc_id, d.n_chars,
        |       least(greatest(d.n_chars, lo.lo), hi.hi) AS n_chars_winsorized
        |FROM d, lo, hi""".stripMargin,

    // Ship-lag percentiles: integer-day lag over the lineitem→orders
    // join, per-priority rank selection (the x30 construction; the
    // oracle takes the naive ranked path as usual).
    "x127_ship_lag" ->
      """WITH l AS (
        |  SELECT o.o_orderpriority,
        |         (epoch_us(CAST(li.l_shipdate AS TIMESTAMP)) -
        |          epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) // 86400000000
        |           AS lag_days
        |  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey),
        |r AS (
        |  SELECT o_orderpriority, lag_days,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY lag_days) AS rn,
        |         CAST(count(*) OVER (PARTITION BY o_orderpriority)
        |              AS BIGINT) AS n
        |  FROM l)
        |SELECT o_orderpriority, p, n AS n_items, lag_days AS lag_days_at_p
        |FROM r CROSS JOIN (VALUES (50), (90)) ps(p)
        |WHERE rn = (p * n + 99) // 100""".stripMargin,

    // Gini: the textbook ranked formula Σ(2i−n−1)x_i / (n·S) over
    // ASC-sorted per-user counts — cross-proves the histogram closed
    // form v·m·(2b+m−n); HUGEINT products.
    "x121_gini" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS rn FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(sum(c) AS BIGINT) AS n_events FROM c),
        |num AS (
        |  SELECT sum(CAST(2 * rn - n_users - 1 AS HUGEINT) * c) AS num
        |  FROM r, t)
        |SELECT t.n_users, t.n_events,
        |       CASE WHEN t.n_users < 2 THEN 0
        |            ELSE CAST(CAST(1000000 AS HUGEINT) * num.num //
        |                      (CAST(t.n_users AS HUGEINT) * t.n_events)
        |                      AS BIGINT) END AS gini_ppm
        |FROM t, num""".stripMargin,

    // A/B lift: purchases carved by the same salted bucket; revenue
    // as summed integer cents, integral-div mean.
    "x122_ab_lift" ->
      """WITH p AS (
        |  SELECT ('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
        |                         1, 8))::BIGINT % 1000 AS bucket,
        |         user_id,
        |         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |    AND value IS NOT NULL),
        |a AS (
        |  SELECT CASE WHEN bucket < 500 THEN 'control'
        |              ELSE 'treatment' END AS arm, user_id, cents
        |  FROM p)
        |SELECT arm, CAST(count(*) AS BIGINT) AS n_purchases,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
        |       CAST(sum(cents) AS BIGINT) AS total_cents,
        |       CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
        |         AS mean_cents
        |FROM a GROUP BY 1""".stripMargin,

    // Vocabulary growth: first-owner min doc_id per token over the
    // planted corpus (the x77 uniq<doc_id> plant), integer bucket
    // arithmetic, cumulative over the ten-row frame.
    "x123_vocab_growth" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 9 = 0
        |              THEN coalesce(text, '') || ' uniq' ||
        |                   CAST(doc_id AS VARCHAR)
        |              ELSE text END AS text
        |  FROM documents),
        |f AS (
        |  SELECT w, min(doc_id) AS first_id
        |  FROM (SELECT doc_id,
        |               unnest(string_split(coalesce(text, ''), ' ')) AS w
        |        FROM d)
        |  WHERE w <> '' GROUP BY 1),
        |m AS (SELECT max(doc_id) AS max_id FROM d),
        |b AS (SELECT 10 * first_id // (max_id + 1) AS bucket FROM f, m),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new_tokens
        |      FROM b GROUP BY 1)
        |SELECT bucket, n_new_tokens,
        |       CAST(sum(n_new_tokens) OVER (ORDER BY bucket
        |                                    ROWS UNBOUNDED PRECEDING)
        |            AS BIGINT) AS cum_tokens
        |FROM g""".stripMargin,

    // Dup-cluster profile: the x24 recursive closure (MinHash-threshold
    // pairs at 0.8) + doc stats per component label.
    "x116_dup_cluster_profile" ->
      s"""WITH RECURSIVE $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |  reach(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |  comp AS (
         |    SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
         |    FROM (SELECT DISTINCT a FROM e) n JOIN reach r ON r.a = n.a
         |    GROUP BY n.a)
         |SELECT c.component, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(length(coalesce(d.text, ''))) AS BIGINT)
         |         AS total_chars,
         |       min(c.doc_id) AS min_doc_id, max(c.doc_id) AS max_doc_id,
         |       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
         |FROM comp c JOIN documents d ON d.doc_id = c.doc_id
         |GROUP BY 1""".stripMargin,

    // Contamination by source: the x19 chain + one source rollup.
    "x117_contamination_by_source" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |  tg AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)])) AS g
        |         FROM tr),
        |  ev_src AS (SELECT list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  ev AS (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |           FROM tg JOIN ev USING (g) GROUP BY doc_id),
        |  flagged AS (
        |    SELECT d.doc_id, d.source,
        |           coalesce(h.n, 0) > 0 AS contaminated
        |    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_contaminated,
        |       1000000 *
        |         CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
        |         // CAST(count(*) AS BIGINT) AS rate_ppm
        |FROM flagged GROUP BY 1""".stripMargin,

    // Triangle counts: canonical u<v<w triple join over the x18 pair
    // set (AS MATERIALIZED — shared CTEs re-expand otherwise) vs the
    // Spark side's degree-oriented node-iterator.
    "x114_triangle_count" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS MATERIALIZED (
         |    SELECT i.a_id, i.b_id
         |    FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  tri AS MATERIALIZED (
         |    SELECT p1.a_id AS u, p1.b_id AS v, p2.b_id AS w
         |    FROM pairs p1
         |    JOIN pairs p2 ON p1.a_id = p2.a_id AND p1.b_id < p2.b_id
         |    JOIN pairs p3 ON p3.a_id = p1.b_id AND p3.b_id = p2.b_id),
         |  deg AS (
         |    SELECT x, CAST(count(*) AS BIGINT) AS deg
         |    FROM (SELECT a_id AS x FROM pairs
         |          UNION ALL SELECT b_id FROM pairs)
         |    GROUP BY 1),
         |  tn AS (
         |    SELECT n, CAST(count(*) AS BIGINT) AS n_triangles
         |    FROM (SELECT u AS n FROM tri UNION ALL SELECT v FROM tri
         |          UNION ALL SELECT w FROM tri)
         |    GROUP BY 1)
         |SELECT deg.x AS node, deg.deg,
         |       coalesce(tn.n_triangles, 0) AS n_triangles,
         |       CASE WHEN deg.deg < 2 THEN 0
         |            ELSE 1000000 * 2 * coalesce(tn.n_triangles, 0)
         |                 // (deg.deg * (deg.deg - 1)) END AS closure_ppm
         |FROM deg LEFT JOIN tn ON tn.n = deg.x""".stripMargin,

    // Hub drop report: the planted part -999 rides every 3rd order;
    // degree over the support>=2 pair graph, ceiling 50.
    "x264_hub_report" ->
      """WITH li AS (
        |    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |    FROM lineitem),
        |  pl AS (SELECT o, p FROM li
        |         UNION ALL
        |         SELECT DISTINCT o, -999 AS p FROM li WHERE o % 3 = 0),
        |  pairs AS (
        |    SELECT a.p AS a_id, b.p AS b_id
        |    FROM pl a JOIN pl b ON a.o = b.o AND a.p < b.p
        |    GROUP BY 1, 2 HAVING count(*) >= 2),
        |  deg AS (
        |    SELECT x AS node, CAST(count(*) AS BIGINT) AS deg
        |    FROM (SELECT a_id AS x FROM pairs
        |          UNION ALL SELECT b_id FROM pairs)
        |    GROUP BY 1)
        |SELECT node, deg FROM deg WHERE deg > 50""".stripMargin,

    // RA link prediction: wedges from the symmetrized co-purchase
    // graph (x115's basket-pair construction at support >= 2),
    // anti-joined against
    // the canonical edge set; each shared-neighbor term is one
    // integral division summed in BIGINT.
    "x254_link_prediction" ->
      s"""WITH li AS (
         |    SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |    FROM lineitem),
         |  pairs AS MATERIALIZED (
         |    SELECT a.p AS a_id, b.p AS b_id
         |    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
         |    GROUP BY 1, 2 HAVING count(*) >= 2),
         |  sym AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |  deg AS (SELECT src AS x, CAST(count(*) AS BIGINT) AS deg
         |          FROM sym GROUP BY 1),
         |  wedge AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
         |            FROM sym e1 JOIN sym e2
         |              ON e1.src = e2.src AND e1.dst < e2.dst),
         |  cand AS (SELECT wg.v AS a_id, wg.w AS b_id, wg.u
         |           FROM wedge wg
         |           LEFT JOIN pairs p ON p.a_id = wg.v AND p.b_id = wg.w
         |           WHERE p.a_id IS NULL)
         |SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS n_common,
         |       CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_ppm
         |FROM cand c JOIN deg d ON d.x = c.u
         |GROUP BY 1, 2""".stripMargin,

    // k-core: the x114 pair closure + 4 generated peel stages; the
    // fixpoint is order-independent so fixed synchronous rounds
    // hash-gate exactly.
    "x202_kcore" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS MATERIALIZED (
         |    SELECT i.a_id, i.b_id
         |    FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  e0 AS MATERIALIZED (
         |    SELECT a_id AS src, b_id AS dst FROM pairs
         |    UNION ALL SELECT b_id, a_id FROM pairs),
         |${kcorePeels(k = 2, iters = 4)}
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
         |FROM e4 GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // Basket affinity: distinct (order, part) frame, in-order pair
    // self-join, lift = c12·N // (c1·c2) in HUGEINT.
    "x115_basket_affinity" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |tot AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
        |pr AS (
        |  SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2),
        |pc AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1)
        |SELECT pr.p1, pr.p2, pr.pair_cnt,
        |       CAST(CAST(1000000 AS HUGEINT) * tot.n_orders * pr.pair_cnt
        |            // (CAST(c1.c AS HUGEINT) * c2.c) AS BIGINT) AS lift_ppm
        |FROM pr
        |JOIN pc c1 ON c1.p = pr.p1
        |JOIN pc c2 ON c2.p = pr.p2
        |CROSS JOIN tot
        |WHERE pr.pair_cnt >= 3""".stripMargin,

    // Simpson diversity: repeat probability in exact ppm; Σc(c−1) and
    // n(n−1) in HUGEINT (corpus-quadratic in the degenerate source).
    "x107_source_diversity" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS w
        |  FROM documents),
        |c AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM t WHERE w <> '' GROUP BY 1, 2),
        |a AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS distinct_tokens,
        |         sum(CAST(c AS HUGEINT) * (c - 1)) AS rep
        |  FROM c GROUP BY 1)
        |SELECT source, n_tokens, distinct_tokens,
        |       CASE WHEN n_tokens < 2 THEN 0
        |            ELSE CAST(CAST(1000000 AS HUGEINT) * rep //
        |                      (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
        |                      AS BIGINT) END AS simpson_ppm
        |FROM a""".stripMargin,

    // Session funnel: the x29 session labeling + the x75 dependent-CTE
    // chain re-keyed on (user_id, session_idx); 12-hour gap.
    "x108_session_funnel" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |l AS (
        |  SELECT *, lag(us) OVER (PARTITION BY user_id
        |                          ORDER BY us, event_id) AS p
        |  FROM e),
        |s AS (
        |  SELECT *, sum(CASE WHEN p IS NULL OR us - p > 43200000000
        |                     THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM l),
        |s1 AS (SELECT user_id, session_idx, min(us) AS t FROM s
        |       WHERE event_type = 'view' GROUP BY 1, 2),
        |s2 AS (SELECT s.user_id, s.session_idx, min(s.us) AS t
        |       FROM s JOIN s1 USING (user_id, session_idx)
        |       WHERE s.event_type = 'click' AND s.us > s1.t GROUP BY 1, 2),
        |s3 AS (SELECT s.user_id, s.session_idx, min(s.us) AS t
        |       FROM s JOIN s2 USING (user_id, session_idx)
        |       WHERE s.event_type = 'purchase' AND s.us > s2.t GROUP BY 1, 2)
        |SELECT CAST(1 AS INT) AS stage, 'view' AS event_type,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_sessions
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click',
        |       (SELECT CAST(count(*) AS BIGINT) FROM s2)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase',
        |       (SELECT CAST(count(*) AS BIGINT) FROM s3)""".stripMargin,

    // Pareto concentration: the NAIVE ranked running-sum construction
    // (global window) cross-proves the histogram closed form; the 80%
    // target is spelled ceil(4N/5) = (4N+4)//5 on both sides.
    "x103_pareto_concentration" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rn,
        |         CAST(sum(c) OVER (ORDER BY c DESC, user_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |             CAST(sum(c) AS BIGINT) AS n_events FROM c),
        |k80 AS (
        |  SELECT CAST(min(rn) AS BIGINT) AS users_for_80pct
        |  FROM r, t WHERE cum >= (4 * n_events + 4) // 5),
        |dec AS (
        |  SELECT CAST(CAST(1000000 AS HUGEINT) * cum // n_events AS BIGINT)
        |           AS top_decile_share_ppm
        |  FROM r, t WHERE rn = (n_users + 9) // 10)
        |SELECT t.n_users, t.n_events, k80.users_for_80pct,
        |       dec.top_decile_share_ppm
        |FROM t, k80, dec""".stripMargin,

    // Diurnal profile: hour = (us // 3600e6) % 24; the per-type total
    // rides a window over the tiny types×24 frame (HUGEINT → BIGINT).
    "x104_hourly_profile" ->
      """WITH h AS (
        |  SELECT event_type,
        |         (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hour,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, hour, n_events,
        |       1000000 * n_events //
        |         CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
        |         AS share_ppm
        |FROM h""".stripMargin,

    // Referential integrity: per relation, key-count frame LEFT JOIN
    // the parent's distinct keys; FILTER aggregates split orphan
    // rows/keys in one pass. Third relation trims the parent to
    // c_custkey >= 100 (the planted orphans).
    "x105_ref_integrity" ->
      """WITH l AS (
        |  SELECT c.k, c.cr, o.k AS pk
        |  FROM (SELECT l_orderkey AS k, count(*) AS cr FROM lineitem
        |        WHERE l_orderkey IS NOT NULL GROUP BY 1) c
        |  LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) o
        |    ON c.k = o.k),
        |r1 AS (
        |  SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS relation,
        |         CAST(sum(cr) AS BIGINT) AS n_child_rows,
        |         CAST(count(*) AS BIGINT) AS n_child_keys,
        |         CAST(coalesce(sum(cr) FILTER (pk IS NULL), 0) AS BIGINT)
        |           AS n_orphan_rows,
        |         CAST(count(*) FILTER (pk IS NULL) AS BIGINT) AS n_orphan_keys
        |  FROM l),
        |o2 AS (
        |  SELECT c.k, c.cr, p.k AS pk
        |  FROM (SELECT o_custkey AS k, count(*) AS cr FROM orders
        |        WHERE o_custkey IS NOT NULL GROUP BY 1) c
        |  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
        |    ON c.k = p.k),
        |r2 AS (
        |  SELECT 'orders.o_custkey->customer.c_custkey' AS relation,
        |         CAST(sum(cr) AS BIGINT) AS n_child_rows,
        |         CAST(count(*) AS BIGINT) AS n_child_keys,
        |         CAST(coalesce(sum(cr) FILTER (pk IS NULL), 0) AS BIGINT)
        |           AS n_orphan_rows,
        |         CAST(count(*) FILTER (pk IS NULL) AS BIGINT) AS n_orphan_keys
        |  FROM o2),
        |e3 AS (
        |  SELECT c.k, c.cr, p.k AS pk
        |  FROM (SELECT user_id AS k, count(*) AS cr FROM events
        |        WHERE user_id IS NOT NULL GROUP BY 1) c
        |  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer
        |             WHERE c_custkey >= 100) p
        |    ON c.k = p.k),
        |r3 AS (
        |  SELECT 'events.user_id->customer.c_custkey[>=100]' AS relation,
        |         CAST(sum(cr) AS BIGINT) AS n_child_rows,
        |         CAST(count(*) AS BIGINT) AS n_child_keys,
        |         CAST(coalesce(sum(cr) FILTER (pk IS NULL), 0) AS BIGINT)
        |           AS n_orphan_rows,
        |         CAST(count(*) FILTER (pk IS NULL) AS BIGINT) AS n_orphan_keys
        |  FROM e3)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |UNION ALL SELECT * FROM r3""".stripMargin,

    // Key-skew diagnostic: exact fixed-point arithmetic with the
    // HUGEINT ↔ DECIMAL(38,0) product (the x87 convention);
    // "key_rank", never "rank" (the QUALIFY word).
    "x97_key_skew" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS key_cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |g AS (
        |  SELECT CAST(sum(key_cnt) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_keys
        |  FROM c),
        |t AS (
        |  SELECT user_id, key_cnt,
        |         CAST(row_number() OVER (ORDER BY key_cnt DESC, user_id)
        |              AS BIGINT) AS key_rank
        |  FROM c QUALIFY key_rank <= 5)
        |SELECT t.key_rank, t.user_id, t.key_cnt, g.n_rows, g.n_keys,
        |       g.n_rows * 100 // g.n_keys AS avg_cnt_x100,
        |       CAST(CAST(t.key_cnt AS HUGEINT) * g.n_keys * 100 // g.n_rows
        |            AS BIGINT) AS skew_x100
        |FROM t CROSS JOIN g""".stripMargin,

    // SCD2 change compression: the change flag seeds on rn=1 (NOT
    // "prev IS NULL" — a NULL attr run mid-stream would re-flag) and
    // compares IS DISTINCT FROM, mirroring Spark's <=> exactly; the
    // running sum carries the explicit ROWS frame; windowed
    // sum/count → CAST AS BIGINT.
    "x85_scd2_history" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us
        |  FROM orders),
        |lagged AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority, us,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                    ORDER BY us, o_orderkey) AS prev_p,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY us, o_orderkey) AS rn
        |  FROM o),
        |versioned AS (
        |  SELECT o_custkey, o_orderpriority, us,
        |         CAST(sum(CASE WHEN rn = 1
        |                         OR prev_p IS DISTINCT FROM o_orderpriority
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY o_custkey ORDER BY us, o_orderkey
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS version_idx
        |  FROM lagged),
        |runs AS (
        |  SELECT o_custkey, version_idx,
        |         min(o_orderpriority) AS o_orderpriority,
        |         min(us) AS valid_from_us,
        |         CAST(count(*) AS BIGINT) AS n_obs
        |  FROM versioned GROUP BY 1, 2)
        |SELECT o_custkey, version_idx, o_orderpriority, valid_from_us,
        |       lead(valid_from_us) OVER w AS valid_to_us, n_obs,
        |       (lead(valid_from_us) OVER w IS NULL) AS is_current
        |FROM runs
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY version_idx)""".stripMargin,

    // Incremental SCD2 apply: the oracle is the x85 FULL recompute
    // over all observations — equality proves incremental ≡ batch.
    "x252_scd2_apply" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us
        |  FROM orders),
        |lagged AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority, us,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |                                    ORDER BY us, o_orderkey) AS prev_p,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY us, o_orderkey) AS rn
        |  FROM o),
        |versioned AS (
        |  SELECT o_custkey, o_orderpriority, us,
        |         CAST(sum(CASE WHEN rn = 1
        |                         OR prev_p IS DISTINCT FROM o_orderpriority
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY o_custkey ORDER BY us, o_orderkey
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS version_idx
        |  FROM lagged),
        |runs AS (
        |  SELECT o_custkey, version_idx,
        |         min(o_orderpriority) AS o_orderpriority,
        |         min(us) AS valid_from_us,
        |         CAST(count(*) AS BIGINT) AS n_obs
        |  FROM versioned GROUP BY 1, 2)
        |SELECT o_custkey, version_idx, o_orderpriority, valid_from_us,
        |       lead(valid_from_us) OVER w AS valid_to_us, n_obs,
        |       (lead(valid_from_us) OVER w IS NULL) AS is_current
        |FROM runs
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY version_idx)""".stripMargin,

    // Grouped heavy hitters: naive per-group counts vs the sketch+
    // recount construction — cross-construction proof like x231.
    "x265_group_heavy_hitters" ->
      """WITH t AS (
        |  SELECT source AS grp,
        |         unnest(string_split(coalesce(text, ''), ' ')) AS token
        |  FROM documents WHERE source IS NOT NULL),
        |t2 AS (SELECT grp, token FROM t WHERE length(token) > 0),
        |n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_total
        |      FROM t2 GROUP BY 1),
        |c AS (SELECT grp, token, CAST(count(*) AS BIGINT) AS n_token
        |      FROM t2 GROUP BY 1, 2)
        |SELECT c.grp AS source, c.token, c.n_token, n.n_total,
        |       CAST(CAST(c.n_token AS HUGEINT) * 1000000 // n.n_total
        |            AS BIGINT) AS share_ppm
        |FROM c JOIN n USING (grp) WHERE c.n_token * 32 > n.n_total""".stripMargin,

    // Source lang purity: the GENERATED langScore/langCase over
    // sources, mode under (count desc, lang) like x204.
    "x262_source_lang_purity" ->
      s"""WITH scored AS (
         |  SELECT source, $langScore
         |  FROM (SELECT source, string_split(coalesce(text, ''), ' ')
         |          AS toks
         |        FROM documents WHERE source IS NOT NULL)),
         |best AS (SELECT source, $langCase AS predicted FROM scored),
         |c AS (SELECT source, predicted, CAST(count(*) AS BIGINT) AS c
         |      FROM best GROUP BY 1, 2),
         |r AS (SELECT source, predicted, c,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY c DESC, predicted) AS INT) AS rn,
         |        CAST(sum(c) OVER (PARTITION BY source) AS BIGINT)
         |          AS n_docs
         |      FROM c)
         |SELECT source, n_docs, predicted AS majority_lang,
         |       CAST(1000000 * c // n_docs AS BIGINT) AS purity_ppm
         |FROM r WHERE rn = 1""".stripMargin,

    // Doc Simpson: (doc, token) counts folded per doc; NULL/empty
    // docs kept at 0 via the left join.
    "x261_doc_simpson" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |      FROM t WHERE tok <> '' GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |             CAST(sum(c * (c - 1)) AS BIGINT) AS s
        |      FROM c GROUP BY 1)
        |SELECT d.doc_id, coalesce(a.n, 0) AS n_tokens,
        |       CASE WHEN coalesce(a.n, 0) >= 2
        |            THEN CAST(CAST(1000000 AS HUGEINT) * a.s //
        |                   (CAST(a.n AS HUGEINT) * (a.n - 1)) AS BIGINT)
        |            ELSE 0 END AS simpson_ppm
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin,

    // Negative funnel: the strictly-earlier RANGE frame (integer
    // micros, -1 PRECEDING) computes both running maxes in one
    // window; existence folds per user then totals.
    "x260_negative_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT user_id, event_type,
        |         max(CASE WHEN event_type = 'view' THEN us END)
        |           OVER w AS last_from_us,
        |         max(CASE WHEN event_type = 'error' THEN us END)
        |           OVER w AS last_avoid_us
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us
        |               RANGE BETWEEN UNBOUNDED PRECEDING
        |                 AND 1 PRECEDING)),
        |f AS (
        |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |           AS is_to,
        |         CASE WHEN event_type = 'purchase'
        |               AND last_from_us IS NOT NULL THEN 1 ELSE 0 END
        |           AS with_from,
        |         CASE WHEN event_type = 'purchase'
        |               AND last_from_us IS NOT NULL
        |               AND (last_avoid_us IS NULL
        |                    OR last_avoid_us <= last_from_us)
        |              THEN 1 ELSE 0 END AS clean
        |  FROM m)
        |SELECT CAST(sum(is_to) AS BIGINT) AS n_target,
        |       CAST(sum(with_from) AS BIGINT) AS n_with_from,
        |       CAST(sum(clean) AS BIGINT) AS n_clean,
        |       CAST(sum(with_from) - sum(clean) AS BIGINT) AS n_dirty
        |FROM f""".stripMargin,

    // Gap sweep: one lag pass, thresholds as a literal grid, the
    // gaps-and-islands session-count algebra.
    "x259_gap_sweep" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |l AS (
        |  SELECT us - lag(us) OVER (PARTITION BY user_id
        |                            ORDER BY us, event_id) AS gap_us
        |  FROM e),
        |g AS (SELECT gap_us FROM l WHERE gap_us IS NOT NULL),
        |u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |      FROM e),
        |t AS (SELECT CAST(unnest([5, 15, 30, 60]) AS INT) AS tm),
        |c AS (SELECT t.tm,
        |             CAST(count(*) FILTER (WHERE g.gap_us >
        |               CAST(t.tm AS BIGINT) * 60000000) AS BIGINT)
        |               AS n_gaps_over
        |      FROM t CROSS JOIN g GROUP BY 1)
        |SELECT t.tm AS threshold_minutes, u.n_users,
        |       coalesce(c.n_gaps_over, 0) AS n_gaps_over,
        |       u.n_users + coalesce(c.n_gaps_over, 0) AS n_sessions
        |FROM t LEFT JOIN c ON t.tm = c.tm CROSS JOIN u""".stripMargin,

    // Path trigrams: two leads in one user window, triple counts,
    // one-row total, (n desc, t1, t2, t3) rank cut at 20.
    "x256_path_trigrams" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |l AS (
        |  SELECT event_type AS t1,
        |         lead(event_type, 1) OVER w AS t2,
        |         lead(event_type, 2) OVER w AS t3
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |c AS (SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |      FROM l WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        |      GROUP BY 1, 2, 3),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |r AS (SELECT t1, t2, t3, n,
        |             CAST(1000000 * n // total AS BIGINT) AS share_ppm,
        |             CAST(row_number() OVER (ORDER BY n DESC, t1, t2, t3)
        |                  AS BIGINT) AS pattern_rank
        |      FROM c CROSS JOIN tt)
        |SELECT t1, t2, t3, n, share_ppm, pattern_rank
        |FROM r WHERE pattern_rank <= 20""".stripMargin,

    // Transition matrix: the lead window mirrors Spark's
    // (us, event_id) ordering; the ppm division casts the HUGEINT
    // windowed total back to BIGINT before `//` (the x22 lesson).
    "x86_transition_matrix" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |pairs AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY us, event_id) AS next_type
        |  FROM e),
        |agg AS (
        |  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM pairs WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n_pairs,
        |       CAST(sum(n_pairs) OVER (PARTITION BY event_type) AS BIGINT)
        |         AS row_total,
        |       1000000 * n_pairs
        |         // CAST(sum(n_pairs) OVER (PARTITION BY event_type) AS BIGINT)
        |         AS prob_ppm
        |FROM agg""".stripMargin,

    // Event-rate anomaly: the planted click outage mirrors the query's
    // filter; the σ test re-derives Spark's DECIMAL(38,0) tree in
    // HUGEINT — exact on both engines, so the boolean can't flake.
    "x87_event_anomaly" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, ts FROM events
        |  WHERE NOT (event_type = 'click'
        |             AND CAST(ts AS DATE) = DATE '2024-01-08'
        |             AND event_id % 10 <> 0)),
        |daily AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM ev WHERE ts IS NOT NULL GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type AS m_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(c) AS BIGINT) AS s1, sum(c * c) AS s2
        |  FROM daily GROUP BY 1)
        |SELECT event_type, day, c AS n_events,
        |       (CAST(n AS HUGEINT) * c - s1) * (CAST(n AS HUGEINT) * c - s1)
        |         > 9 * (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
        |         AS is_anomaly
        |FROM daily JOIN m ON event_type IS NOT DISTINCT FROM m_type""".stripMargin,

    // Sessionization: all time math in integer microseconds; the
    // (us, event_id) ordering is unique, and the running sum uses an
    // explicit ROWS frame on both sides. DuckDB's windowed sum returns
    // HUGEINT → cast to BIGINT to match Spark's LONG.
    "x29_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |lagged AS (
        |  SELECT user_id, event_id, us,
        |         lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |           AS prev_us
        |  FROM e),
        |labeled AS (
        |  SELECT user_id, event_id, us,
        |         CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                       THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS session_idx
        |  FROM lagged)
        |SELECT user_id, session_idx,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       max(us) - min(us) AS duration_us,
        |       min(event_id) AS min_event_id,
        |       max(event_id) AS max_event_id
        |FROM labeled GROUP BY user_id, session_idx""".stripMargin,

    // Exact PERCENTILE_DISC re-derived as integer rank selection (the
    // engines' native percentile functions interpolate differently):
    // the row at rank ceil(p*n/100) of the fully tiebroken ordering.
    // DELIBERATELY a different construction than the Spark side (which
    // selects from the (lang, n_chars) histogram so no single language
    // ever lands in one task) — the value at rank t of the sorted
    // group IS the smallest histogram bin with cumulative count >= t,
    // so the two derivations agreeing is an independent proof of both.
    "x30_quantiles" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id, length(text) AS n_chars,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY length(text), doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |targets AS (
        |  SELECT lang, n, p, (p * n + 99) // 100 AS target_rn
        |  FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |        FROM ranked GROUP BY lang),
        |       (SELECT unnest([50, 90, 99]) AS p))
        |SELECT r.lang, t.p, t.n AS n_docs, r.n_chars AS n_chars_at_p
        |FROM ranked r JOIN targets t
        |  ON r.lang = t.lang AND r.rn = t.target_rn""".stripMargin,

    // Rolling RANGE-frame window over integer epoch-days: DuckDB's
    // windowed sum returns HUGEINT → CAST AS BIGINT.
    "x31_rolling" ->
      """WITH daily AS (
        |  SELECT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
        |SELECT user_id, day, n_events,
        |       CAST(sum(n_events) OVER (
        |         PARTITION BY user_id ORDER BY day
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS n_rolling
        |FROM daily""".stripMargin,

    // Banding range join: dim inlined as VALUES (same literals as the
    // Spark-side broadcast dimension); half-open [lo, hi) bands.
    "x32_length_bands" ->
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('short', 0, 100), ('medium', 100, 300), ('long', 300, 1000000))
        |SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents d JOIN bands b
        |  ON length(d.text) >= b.lo AND length(d.text) < b.hi
        |GROUP BY band""".stripMargin,

    "x15_pii_scrub" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |         regexp_replace(
        |           regexp_replace(text,
        |             '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
        |           '[0-9]{7,}', '<NUM>', 'g') AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        |       clean_text <> text AS was_scrubbed,
        |       CAST(length(text) AS INT) AS n_chars_raw,
        |       CAST(length(clean_text) AS INT) AS n_chars_clean
        |FROM s""".stripMargin,

    "x16_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         greatest(len(string_split(text, ' ')) - 1, 0) AS n_bigrams,
        |         len(list_distinct([s[i] || ' ' || s[i+1]
        |                            FOR i IN range(1, len(s))])) AS n_distinct_bigrams
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents))
        |SELECT doc_id,
        |       CAST(n_bigrams AS INT) AS n_bigrams,
        |       CAST(n_distinct_bigrams AS INT) AS n_distinct_bigrams,
        |       CASE WHEN n_bigrams > 0
        |            THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
        |            ELSE 0.0 END AS dup_bigram_ratio
        |FROM t""".stripMargin,

    // frame windows over the media payload (= UTF-8 bytes of text):
    // step = max(bytes/4, 1) integer division; hex slicing at 2 chars
    // per byte reproduces the byte windows exactly (start byte i*step+1
    // -> hex offset 2*i*step+1, 16 bytes -> 32 hex chars)
    // Independent check of the exact prefix-filtered join: candidates
    // here are the COMPLETE shared-shingle equi-join (any pair at
    // Jaccard > 0 shares a shingle), verified with the same integer
    // cross-multiplied threshold (10·i ≥ 7·|∪| ⟺ J ≥ 0.7 — no float
    // boundary). Far cheaper than the all-pairs list_intersect shape of
    // the x2 oracle at larger scale factors.
    "x18_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2)
         |SELECT i.a_id, i.b_id,
         |       CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jaccard
         |FROM inter i
         |JOIN sz sa ON sa.doc_id = i.a_id
         |JOIN sz sb ON sb.doc_id = i.b_id
         |WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)""".stripMargin,

    // Asymmetric containment (x72): brute-force shared-shingle
    // equi-join over the planted quote-doc frame — strings here vs
    // 64-bit hashes on the Spark side (the x2/x18 collision caveat).
    // DuckDB list slice s[1:25] is INCLUSIVE (25 tokens) = Spark
    // slice(s, 1, 25).
    "x72_containment" ->
      """WITH pl AS (
        |    SELECT doc_id, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 3000000,
        |           array_to_string((string_split(text, ' '))[1:25], ' ')
        |    FROM documents WHERE doc_id % 40 = 0),
        |  sh AS (
        |    SELECT doc_id,
        |           list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                          FOR i IN range(1, len(s)-1)]) AS sh
        |    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM pl)),
        |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
        |  inter AS (
        |    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
        |           CAST(count(*) AS BIGINT) AS n_shared
        |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |    GROUP BY 1, 2)
        |SELECT i.contained_id, i.container_id, i.n_shared,
        |       CAST(sa.sz AS BIGINT) AS n_shingles
        |FROM inter i JOIN sz sa ON sa.doc_id = i.contained_id
        |WHERE 10 * i.n_shared >= 9 * sa.sz AND sa.sz >= 5""".stripMargin,

    // Decontamination: 13-gram containment against the planted eval set
    // (every 50th doc's token window [5,30] — Spark slice(s,5,26) ==
    // DuckDB s[5:30], both 26 tokens). The join is on n-gram STRINGS
    // here vs 64-bit hashes on the Spark side (vanishing-collision
    // caveat as x2/x18).
    // Dedup funnel: stage counts. The near-dup stage reuses the x18
    // exact-Jaccard construction (complete shared-shingle equi-join,
    // integer cross-multiplied threshold), so this oracle never goes
    // all-pairs; the quality CASE is the x8 guarded form.
    "x34_prep_funnel" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  dropped AS (
         |    SELECT DISTINCT i.b_id AS doc_id
         |    FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  surv AS (SELECT * FROM documents
         |           WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
         |  q AS (SELECT doc_id,
         |               len(string_split(text, ' ')) AS n_tokens,
         |               len(list_filter(string_split(text, ' '),
         |                   t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
         |               length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
         |               length(text) AS n_chars
         |        FROM surv)
         |SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
         |UNION ALL
         |SELECT '2_exact_unique', CAST(count(DISTINCT md5(text)) AS BIGINT) FROM documents
         |UNION ALL
         |SELECT '3_neardup_survivors', CAST(count(*) AS BIGINT) FROM surv
         |UNION ALL
         |SELECT '4_quality_passed', CAST(count(*) AS BIGINT) FROM q
         |WHERE (CASE WHEN n_tokens < 5 THEN 0.0
         |            ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
         |                        ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
         |                 + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
         |       END) >= 1.0""".stripMargin,

    // Span dedup: positional 13-token windows (pos recovers the token
    // index; i is 1-based so pos = i-1), duplicated = the same window
    // string at >= 2 (doc, pos) sites corpus-wide. Groups on the window
    // STRING where Spark groups on xxhash64 of it — the usual
    // vanishing-collision cross-proof (as x2/x18). Coverage counts
    // DISTINCT token indices under any duplicated window.
    "x35_span_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s
        |              FROM documents WHERE text IS NOT NULL),
        |  wins AS (SELECT doc_id, r['pos'] AS pos, r['g'] AS g FROM (
        |    SELECT doc_id, unnest([{'pos': i - 1, 'g': array_to_string(s[i:i+12], ' ')}
        |                           FOR i IN range(1, len(s) - 11)]) AS r
        |    FROM toks)),
        |  dup AS (SELECT g FROM wins GROUP BY g HAVING count(*) >= 2),
        |  sites AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (g)),
        |  dupc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
        |           FROM sites GROUP BY doc_id),
        |  cov AS (SELECT doc_id, CAST(count(DISTINCT pos + k) AS BIGINT) AS n_covered_tokens
        |          FROM sites, generate_series(0, 12) AS gs(k) GROUP BY doc_id)
        |SELECT t.doc_id,
        |       CAST(len(s) AS INT) AS n_tokens,
        |       CAST(greatest(len(s) - 12, 0) AS INT) AS n_windows,
        |       COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
        |       COALESCE(c.n_covered_tokens, 0) AS n_covered_tokens
        |FROM toks t
        |LEFT JOIN dupc d USING (doc_id)
        |LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // Chunk dedup: aligned 10-token chunks (DuckDB list slices are
    // INCLUSIVE: s[i*10+1 : i*10+10] is exactly 10 elements, truncated
    // at the tail), first occurrence ordered (doc_id, ci), documents
    // reassembled from kept chunks. Partitions the window on the chunk
    // STRING where Spark partitions on xxhash64 of it — the x2/x18/x35
    // vanishing-collision cross-proof. string_agg skips NULLs (the
    // dropped chunks); a fully-deduplicated doc reassembles to '' via
    // the COALESCE, matching Spark's empty array_join.
    "x39_chunk_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS s
        |              FROM documents WHERE text IS NOT NULL),
        |  ch AS (SELECT doc_id, r['ci'] AS ci, r['c'] AS c FROM (
        |    SELECT doc_id, unnest([{'ci': i, 'c': array_to_string(s[i*10+1:i*10+10], ' ')}
        |                           FOR i IN range(0, CAST(ceil(len(s)/10.0) AS INT))]) AS r
        |    FROM toks)),
        |  f AS (SELECT doc_id, ci, c,
        |               row_number() OVER (PARTITION BY c ORDER BY doc_id, ci) AS rn
        |        FROM ch)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN c END, ' ' ORDER BY ci), ''))
        |         AS clean_hash
        |FROM f GROUP BY doc_id""".stripMargin,

    // Budget selection: the quality CASE is the x8/x34 per-row tree
    // (bit-exact across engines, so the ORDER BY ranks identically;
    // doc_id completes the total order). Naive global running-sum
    // window here vs the decomposed value-histogram construction in
    // Spark — independent derivations of the same prefix cut.
    "x36_budget_select" ->
      """WITH q AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
        |         length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
        |         length(text) AS n_chars
        |  FROM documents WHERE text IS NOT NULL),
        |  s AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |          (CASE WHEN n_tokens < 5 THEN 0.0
        |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
        |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
        |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
        |           END) AS qual
        |        FROM q),
        |  c AS (SELECT doc_id, n_tokens,
        |          CAST(sum(n_tokens) OVER (ORDER BY qual DESC, doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |        FROM s)
        |SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 10000""".stripMargin,

    // Source overlap: distinct (source, 3-gram) pairs, inner-joined on
    // the gram STRING where Spark joins on xxhash64 (the x2/x18
    // cross-proof); pairs sharing nothing are absent on both sides.
    "x38_source_overlap" ->
      """WITH sg AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(list_distinct(
        |      [s[i] || ' ' || s[i+1] || ' ' || s[i+2] FOR i IN range(1, len(s)-1)])) AS g
        |    FROM (SELECT source, string_split(text, ' ') AS s FROM documents
        |          WHERE text IS NOT NULL))),
        |  sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY source),
        |  p AS (SELECT a.source AS source_a, b.source AS source_b,
        |               CAST(count(*) AS BIGINT) AS n_shared
        |        FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |        GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.n_shared,
        |       sa.n AS n_grams_a, sb.n AS n_grams_b
        |FROM p JOIN sz sa ON sa.source = p.source_a
        |       JOIN sz sb ON sb.source = p.source_b""".stripMargin,

    "x19_decontaminate" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |  tg AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)])) AS g
        |         FROM tr),
        |  ev_src AS (SELECT list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  ev AS (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_ngrams
        |           FROM tg JOIN ev USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(h.n_eval_ngrams, 0) AS n_eval_ngrams,
        |       coalesce(h.n_eval_ngrams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    // Bloom-pre-filtered decontamination ≡ the exact path by
    // construction (no false negatives + exact confirm join), so its
    // oracle IS x19's query verbatim: the same 13-gram containment
    // counts over the same planted eval set.
    "x53_bloom_decontaminate" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |  tg AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)])) AS g
        |         FROM tr),
        |  ev_src AS (SELECT list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  ev AS (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_ngrams
        |           FROM tg JOIN ev USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(h.n_eval_ngrams, 0) AS n_eval_ngrams,
        |       coalesce(h.n_eval_ngrams, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    // Graded contamination: x19's construction plus the per-doc DISTINCT
    // n-gram total and the ppm ratio — integral `//` on BIGINTs matches
    // Spark's `div` (both operands non-negative, floor ≡ truncate).
    "x54_contamination_rate" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |  grams AS (SELECT doc_id, list_distinct(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS gs
        |         FROM tr),
        |  tg AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        |  tot AS (SELECT doc_id, coalesce(CAST(len(gs) AS BIGINT), 0) AS n_ngrams FROM grams),
        |  ev_src AS (SELECT list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  ev AS (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
        |           FROM tg JOIN ev USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(h.n_matched, 0) AS n_matched,
        |       t.n_ngrams,
        |       CASE WHEN t.n_ngrams = 0 THEN 0
        |            ELSE (1000000 * coalesce(h.n_matched, 0)) // t.n_ngrams
        |       END AS rate_ppm
        |FROM documents d JOIN tot t USING (doc_id)
        |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    // Incremental near-dup: cross pairs only (a = indexed corpus side,
    // doc_id % 10 != 0; b = new batch, % 10 == 0), candidates via the
    // complete shared-shingle equi-join (x18's fast oracle shape),
    // verified at Jaccard >= 0.8 with integer cross-multiplication.
    "x23_incr_neardup" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g
         |    WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
         |    GROUP BY 1, 2)
         |SELECT i.a_id, i.b_id,
         |       CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jaccard
         |FROM inter i
         |JOIN sz sa ON sa.doc_id = i.a_id
         |JOIN sz sb ON sb.doc_id = i.b_id
         |WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)""".stripMargin,

    // Near-dup clustering: pairs via the fast shared-shingle shape at
    // Jaccard >= 0.8 (integer cross-multiplied — equivalent to x2's
    // double compare: no fixture ratio can land between the rational
    // and IEEE 0.8 boundaries), then connected components by recursive
    // closure; component = min reachable doc_id.
    "x24_dup_components" ->
      s"""WITH RECURSIVE $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |  reach(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
         |SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
         |FROM (SELECT DISTINCT a FROM e) n JOIN reach r ON r.a = n.a
         |GROUP BY n.a""".stripMargin,

    // Component size histogram: x24's recursive closure extended by
    // two grouped counts — sizes are exact integers, so the histogram
    // hash-gates directly.
    "x279_component_sizes" ->
      s"""WITH RECURSIVE $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |  reach(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |  comp AS (
         |    SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
         |    FROM (SELECT DISTINCT a FROM e) n JOIN reach r ON r.a = n.a
         |    GROUP BY n.a),
         |  cs AS (SELECT component, CAST(count(*) AS BIGINT) AS size
         |         FROM comp GROUP BY 1)
         |SELECT size, CAST(count(*) AS BIGINT) AS n_components,
         |       size * CAST(count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY 1""".stripMargin,

    // Per-source dataset cards: the x24 pair construction feeds the
    // dup-exposure leg; the PII predicate legs are GENERATED from
    // TextStats.PiiPatterns (lower(text), the x277 convention); the
    // dominant lang rides the x204 tie policy (count desc, lang asc).
    "x281_data_cards" -> {
      val piiHit = graft.ext.TextStats.PiiPatterns.map { case (_, p) =>
        s"len(regexp_extract_all(lower(coalesce(text, '')), '$p')) > 0"
      }.mkString("(", " OR ", ")")
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  dup AS (SELECT a_id AS doc_id FROM pairs
         |          UNION SELECT b_id FROM pairs),
         |  base AS (SELECT source,
         |      CAST(count(*) AS BIGINT) AS n_docs,
         |      CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS n_tokens,
         |      CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |      CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |      CAST(count(*) FILTER ($piiHit) AS BIGINT) AS n_pii_docs
         |    FROM documents GROUP BY 1),
         |  du AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_dup_docs
         |         FROM documents d JOIN dup USING (doc_id) GROUP BY 1),
         |  tl AS (SELECT source, lang AS top_lang FROM (
         |      SELECT source, lang,
         |             row_number() OVER (PARTITION BY source
         |               ORDER BY count(*) DESC, lang) AS rn
         |      FROM documents WHERE lang IS NOT NULL
         |      GROUP BY source, lang) WHERE rn = 1)
         |SELECT b.source, b.n_docs, b.n_tokens, b.n_chars, b.n_langs,
         |       coalesce(du.n_dup_docs, 0) AS n_dup_docs, b.n_pii_docs,
         |       tl.top_lang
         |FROM base b
         |LEFT JOIN du ON b.source = du.source
         |LEFT JOIN tl ON b.source = tl.source""".stripMargin
    },

    // Reverse contamination audit: x19's gram construction with the
    // eval side KEYED (eval_id = source doc_id) and the aggregate
    // grouped per eval item; two distinct-counts (grams string-side
    // here, 64-bit hashes engine-side — the x18/x35 collision trade).
    "x280_contamination_sources" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |  tg AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)])) AS g
        |         FROM tr),
        |  ev_src AS (SELECT doc_id AS eval_id,
        |               list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  eg AS (SELECT DISTINCT eval_id, unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  hits AS (SELECT eval_id,
        |             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contaminating_docs,
        |             CAST(count(DISTINCT g) AS BIGINT) AS n_matched_ngrams
        |           FROM eg JOIN tg USING (g) GROUP BY 1)
        |SELECT e.eval_id,
        |       coalesce(h.n_contaminating_docs, 0) AS n_contaminating_docs,
        |       coalesce(h.n_matched_ngrams, 0) AS n_matched_ngrams
        |FROM (SELECT DISTINCT eval_id FROM ev_src) e
        |LEFT JOIN hits h ON e.eval_id = h.eval_id""".stripMargin,

    // Star-contraction components produce the IDENTICAL labeling, so
    // the oracle is x24's recursive closure verbatim — the gate proves
    // the O(log n) algorithm computes the same answer as the O(diam)
    // one on the shared MinHash pair graph.
    "x266_dup_components_star" ->
      s"""WITH RECURSIVE $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |  reach(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
         |SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
         |FROM (SELECT DISTINCT a FROM e) n JOIN reach r ON r.a = n.a
         |GROUP BY n.a""".stripMargin,

    // Canonical pick: x24's recursive component closure, then the best
    // member per component by the x8 quality tree (bit-exact both
    // engines) with the doc_id tiebreak; one window partition serves
    // rank and member count on both sides.
    "x46_canonical_pick" ->
      s"""WITH RECURSIVE $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |  reach(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |  comp AS (SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
         |           FROM (SELECT DISTINCT a FROM e) n JOIN reach r ON r.a = n.a
         |           GROUP BY n.a),
         |  m AS (SELECT doc_id,
         |          len(string_split(text, ' ')) AS n_tokens,
         |          len(list_filter(string_split(text, ' '),
         |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
         |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
         |          length(text) AS n_chars
         |        FROM documents),
         |  q AS (SELECT doc_id,
         |          (CASE WHEN n_tokens < 5 THEN 0.0
         |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
         |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
         |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
         |           END) AS quality_score
         |        FROM m),
         |  ranked AS (
         |    SELECT c.component, c.doc_id, q.quality_score,
         |           row_number() OVER (PARTITION BY c.component
         |                              ORDER BY q.quality_score DESC, c.doc_id) AS rn,
         |           CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT) AS n_members
         |    FROM comp c JOIN q USING (doc_id))
         |SELECT component, doc_id AS keeper_id, n_members,
         |       quality_score AS keeper_quality
         |FROM ranked WHERE rn = 1""".stripMargin,

    // Classifier distillation: gopher-teacher labels on the even half
    // of the x40 planted corpus, integer NB likelihood ratios with
    // add-one smoothing scoring every doc. Cross products ride in
    // HUGEINT (Spark: DECIMAL(38,0)); every output returns to BIGINT
    // through the integral `//`.
    "x57_nb_quality" ->
      """WITH p0 AS (SELECT doc_id,
        |             CASE WHEN doc_id % 17 = 0 THEN replace(text, ' ', '')
        |                  WHEN doc_id % 13 = 0 THEN text || ' !!! ### $$$'
        |                  ELSE text END AS text
        |           FROM documents),
        |  p AS (SELECT doc_id, COALESCE(text, '') AS text FROM p0),
        |  m AS (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |          length(replace(text, ' ', '')) AS n_alpha,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |        FROM p WHERE doc_id % 2 = 0),
        |  lab AS (SELECT doc_id,
        |          ((n_words >= 50 AND n_words <= 100000)
        |           AND ((CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) >= 3.0
        |            AND (CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) <= 10.0)
        |           AND (CASE WHEN n_words = 0 THEN 0.0
        |                ELSE CAST(n_sym AS DOUBLE) / n_words END) <= 0.1
        |           AND n_stop >= 2) AS passes
        |        FROM m),
        |  tok AS (SELECT doc_id, w FROM (
        |            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM p)
        |          WHERE length(w) > 0),
        |  cnt AS (SELECT w,
        |            CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS c_g,
        |            CAST(sum(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |          FROM tok t JOIN lab l USING (doc_id) GROUP BY w),
        |  tots AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
        |                  CAST(sum(c_b) AS BIGINT) AS n_b,
        |                  CAST(count(*) AS BIGINT) AS v
        |           FROM cnt),
        |  model AS (SELECT w,
        |              (1000000::HUGEINT * (tots.n_b + tots.v) * (c_g + 1)) //
        |              ((tots.n_g + tots.v)::HUGEINT * (c_b + 1)) AS r_ppm
        |            FROM cnt CROSS JOIN tots),
        |  r0 AS (SELECT (1000000::HUGEINT * (n_b + v)) // (n_g + v) AS r FROM tots),
        |  sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |           sum(COALESCE(mo.r_ppm, r0.r)) AS tot
        |         FROM tok t LEFT JOIN model mo USING (w) CROSS JOIN r0
        |         GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |       COALESCE(s.n_tokens, 0) AS n_tokens,
        |       CAST(COALESCE(s.tot // s.n_tokens, 0) AS BIGINT) AS nb_ppm
        |FROM documents d LEFT JOIN sc s USING (doc_id)""".stripMargin,

    // Per-source quality cap: the x46 quality tree (identical per-row
    // double construction on both engines) under a per-source ranked
    // window, cut at rank 15. row_number is BIGINT in DuckDB — the
    // Spark side casts its int rank to long to match.
    "x56_source_cap" ->
      """WITH m AS (SELECT doc_id, source,
        |          len(string_split(text, ' ')) AS n_tokens,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
        |          length(text) AS n_chars
        |        FROM documents),
        |  q AS (SELECT doc_id, source,
        |          (CASE WHEN n_tokens < 5 THEN 0.0
        |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
        |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
        |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
        |           END) AS quality_score
        |        FROM m),
        |  ranked AS (
        |    SELECT source, doc_id, quality_score,
        |           row_number() OVER (PARTITION BY source
        |                              ORDER BY quality_score DESC, doc_id) AS rn
        |    FROM q)
        |SELECT source, doc_id, rn AS source_rank, quality_score
        |FROM ranked WHERE rn <= 15""".stripMargin,

    // Corpus diff: both engines md5 the coalesced text (NULL ≡ '') and
    // classify via the same CASE ladder over the full-outer join.
    "x60_corpus_diff" ->
      """WITH o AS (SELECT doc_id, source, md5(coalesce(text, '')) AS dg
        |           FROM documents WHERE doc_id % 29 <> 0),
        |  nw AS (SELECT doc_id, source,
        |           md5(coalesce(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
        |                             ELSE text END, '')) AS dg
        |         FROM documents WHERE doc_id % 31 <> 0),
        |  j AS (SELECT coalesce(nw.source, o.source) AS source,
        |          CASE WHEN o.dg IS NULL THEN 'added'
        |               WHEN nw.dg IS NULL THEN 'removed'
        |               WHEN o.dg <> nw.dg THEN 'changed'
        |               ELSE 'same' END AS status
        |        FROM o FULL OUTER JOIN nw USING (doc_id))
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
        |FROM j GROUP BY source, status""".stripMargin,

    // Overlap chunking: DuckDB's INCLUSIVE list slice spells a
    // 12-token window s[a : a+11]; chunk starts every 8 via the x35
    // struct-comprehension idiom; ceil is integer `//` on both sides.
    "x59_overlap_chunks" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s
        |            FROM documents WHERE text IS NOT NULL),
        |  m AS (SELECT doc_id, s,
        |          CASE WHEN len(s) > 12
        |               THEN (len(s) - 12 + 7) // 8 + 1 ELSE 1 END AS nc
        |        FROM tr),
        |  c AS (SELECT doc_id, r['ci'] AS chunk_idx, r['t'] AS chunk_text,
        |               r['k'] AS chunk_tokens FROM (
        |    SELECT doc_id, unnest(
        |      [{'ci': i - 1,
        |        't': array_to_string(s[(i-1)*8 + 1 : (i-1)*8 + 12], ' '),
        |        'k': len(s[(i-1)*8 + 1 : (i-1)*8 + 12])}
        |       FOR i IN range(1, CAST(nc AS BIGINT) + 1)]) AS r
        |    FROM m))
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text,
        |       CAST(chunk_tokens AS BIGINT) AS chunk_tokens
        |FROM c""".stripMargin,

    // √n temperature mixture: the oracle re-derives the ENTIRE
    // largest-remainder allocation in SQL (integer base + remainder
    // bonus by (rem DESC, source) rank, capped at n_s) — cross-proof
    // of the driver-side arithmetic; selection order is the md5-32
    // content hash, identical on both engines.
    "x58_temperature_mix" ->
      """WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |           FROM documents GROUP BY source),
        |  w AS (SELECT source, n_s,
        |          CAST(floor(sqrt(CAST(n_s AS DOUBLE))) AS BIGINT) AS w_s FROM n),
        |  t AS (SELECT CAST(sum(w_s) AS BIGINT) AS wt FROM w),
        |  b AS (SELECT source, n_s,
        |          CAST((300::HUGEINT * w_s) // t.wt AS BIGINT) AS base_s,
        |          CAST((300::HUGEINT * w_s) % t.wt AS BIGINT) AS rem_s
        |        FROM w CROSS JOIN t),
        |  r AS (SELECT CAST(300 - sum(base_s) AS BIGINT) AS remainder FROM b),
        |  a AS (SELECT source,
        |          least(base_s + (CASE WHEN row_number()
        |                  OVER (ORDER BY rem_s DESC, source) <= r.remainder
        |                THEN 1 ELSE 0 END), n_s) AS alloc_s
        |        FROM b CROSS JOIN r),
        |  ranked AS (SELECT d.source, d.doc_id,
        |               CAST(row_number() OVER (PARTITION BY d.source
        |                 ORDER BY ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT,
        |                          d.doc_id) AS BIGINT) AS pick_rank
        |             FROM documents d)
        |SELECT ranked.source, ranked.doc_id, pick_rank, a.alloc_s
        |FROM ranked JOIN a ON ranked.source IS NOT DISTINCT FROM a.source
        |WHERE pick_rank <= a.alloc_s""".stripMargin,

    // Normalization over planted damage (upper-case every 10th doc,
    // doubled spaces elsewhere) — lower/trim/' +' collapse carry
    // identical semantics in both engines; DuckDB regexp_replace needs
    // the 'g' flag to match Spark's replace-all default.
    "x25_normalize" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(
        |         CASE WHEN doc_id % 10 = 0 THEN upper(text)
        |              ELSE regexp_replace(text, ' th', '  th', 'g') END),
        |         ' +', ' ', 'g'))) AS norm_hash,
        |       CAST(length(trim(regexp_replace(lower(
        |         CASE WHEN doc_id % 10 = 0 THEN upper(text)
        |              ELSE regexp_replace(text, ' th', '  th', 'g') END),
        |         ' +', ' ', 'g'))) AS INT) AS n_chars
        |FROM documents""".stripMargin,

    // Gopher rules over the planted damage (CASE order mirrors the
    // Spark when-chain: %17 wins where both fire). Words = non-empty
    // whitespace tokens; ratios are single divisions of exact ints with
    // the n_words=0 guard mirrored; flag thresholds compare the SAME
    // double value both engines computed identically per row.
    "x40_gopher_rules" ->
      """WITH p0 AS (SELECT doc_id,
        |             CASE WHEN doc_id % 17 = 0 THEN replace(text, ' ', '')
        |                  WHEN doc_id % 13 = 0 THEN text || ' !!! ### $$$'
        |                  ELSE text END AS text
        |           FROM documents),
        |  p AS (SELECT doc_id, COALESCE(text, '') AS text FROM p0),
        |  m AS (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |          length(replace(text, ' ', '')) AS n_alpha,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |        FROM p),
        |  r AS (SELECT doc_id,
        |          CAST(n_words AS INT) AS n_words,
        |          CASE WHEN n_words = 0 THEN 0.0
        |               ELSE CAST(n_alpha AS DOUBLE) / n_words END AS mean_word_len,
        |          CASE WHEN n_words = 0 THEN 0.0
        |               ELSE CAST(n_sym AS DOUBLE) / n_words END AS symbol_ratio,
        |          CAST(n_stop AS INT) AS n_stop
        |        FROM m)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, n_stop,
        |       (n_words >= 50 AND n_words <= 100000) AS ok_words,
        |       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
        |       (symbol_ratio <= 0.1) AS ok_symbols,
        |       (n_stop >= 2) AS ok_stop,
        |       ((n_words >= 50 AND n_words <= 100000)
        |        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        |        AND symbol_ratio <= 0.1 AND n_stop >= 2) AS passes
        |FROM r""".stripMargin,

    // Z-score standardization: group moments as exact integer sums
    // (DuckDB integer sum returns HUGEINT — cast to BIGINT), then the
    // SAME per-row double tree Spark evaluates: s2/n − (s1/n)² variance
    // with the ≤0 guard, IS NOT DISTINCT FROM for the null-safe join.
    "x45_zscore_norm" ->
      """WITH m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |                  CAST(sum(n_chars) AS BIGINT) AS s1,
        |                  sum(n_chars * n_chars) AS s2
        |           FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
        |       CASE WHEN (CAST(s2 AS DOUBLE) / n
        |                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) <= 0.0
        |            THEN 0.0
        |            ELSE (CAST(d.n_chars AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
        |                 / sqrt(CAST(s2 AS DOUBLE) / n
        |                        - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |       END AS z
        |FROM documents d JOIN m ON d.lang IS NOT DISTINCT FROM m.lang""".stripMargin,

    // Vocabulary: deterministic top-20 selection — the limit sits BELOW
    // the fixture's distinct-token count (31), so the cut actually
    // engages; ties at the cut line break on the token itself on both
    // engines.
    "x26_vocab" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    // Keywords: integer tf·idf proxy (tf*1e6 DIV df) — order-equivalent
    // to tf/df with no float log, so the per-doc ranking is
    // bit-deterministic; ties break (score desc, token).
    // Rarity: same integer idf-proxy family as x27, document-level.
    // tf·idf products in HUGEINT (Spark: DECIMAL(38,0)) — BIGINT can
    // overflow at production corpus sizes; the mean's integral `//`
    // brings the output back to BIGINT on both engines. Tokenless
    // docs (NULL/empty text) surface with zeros via the left join.
    "x50_rarity" ->
      """WITH tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id,
        |         CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |         CAST(sum(tf.tf::HUGEINT * ((1000000 * n.n_docs) // df.df))
        |              // sum(tf.tf) AS BIGINT) AS rarity_mean
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |  GROUP BY tf.doc_id)
        |SELECT d.doc_id,
        |       COALESCE(sc.n_tokens, 0) AS n_tokens,
        |       COALESCE(sc.rarity_mean, 0) AS rarity_mean
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin,

    // Bigram predictability: the oracle rebuilds the corpus bigram LM
    // from the same positional construction (w1 carried directly from
    // the token array rather than re-split from the gram — cross-proof
    // of the head-token extraction) and scores with identical integer
    // math; the HUGEINT sum of per-occurrence ppm casts back via the
    // integral `//` mean.
    "x55_lm_score" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |  bo AS (SELECT doc_id, b['w1'] AS w1, b['g'] AS g FROM (
        |    SELECT doc_id, unnest(
        |      [{'w1': s[i], 'g': s[i] || ' ' || s[i+1]} FOR i IN range(1, len(s))]) AS b
        |    FROM tr)),
        |  c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM bo GROUP BY g),
        |  c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |         FROM (SELECT unnest(s) AS w FROM tr) GROUP BY w),
        |  sc AS (SELECT bo.doc_id,
        |           CAST(count(*) AS BIGINT) AS n_bigrams,
        |           CAST(sum((1000000 * c2.c2) // c1.c1) AS BIGINT) AS tot
        |         FROM bo JOIN c2 USING (g) JOIN c1 ON bo.w1 = c1.w
        |         GROUP BY bo.doc_id)
        |SELECT d.doc_id,
        |       coalesce(s.n_bigrams, 0) AS n_bigrams,
        |       coalesce(s.tot // s.n_bigrams, 0) AS score_ppm
        |FROM documents d LEFT JOIN sc s USING (doc_id)""".stripMargin,

    // Intra-doc repeated-chunk collapse (x74): the x39 chunk
    // comprehension, but first-occurrence-wins PER DOCUMENT (row_number
    // partitioned by doc_id AND chunk, not chunk alone) — the
    // positional derivation cross-proving Spark's per-row
    // array_distinct rewrite.
    "x74_intradoc_collapse" ->
      """WITH pl AS (
        |    SELECT doc_id,
        |           CASE WHEN doc_id % 6 = 0
        |                THEN array_to_string((string_split(text, ' '))[1:10], ' ')
        |                     || ' ' || text
        |                ELSE text END AS text
        |    FROM documents),
        |  toks AS (SELECT doc_id, string_split(text, ' ') AS s
        |           FROM pl WHERE text IS NOT NULL),
        |  ch AS (SELECT doc_id, r['ci'] AS ci, r['c'] AS c FROM (
        |    SELECT doc_id, unnest([{'ci': i, 'c': array_to_string(s[i*10+1:i*10+10], ' ')}
        |                           FOR i IN range(0, CAST(ceil(len(s)/10.0) AS INT))]) AS r
        |    FROM toks)),
        |  f AS (SELECT doc_id, ci, c,
        |               row_number() OVER (PARTITION BY doc_id, c ORDER BY ci) AS rn
        |        FROM ch)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN c END, ' ' ORDER BY ci), ''))
        |         AS clean_hash
        |FROM f GROUP BY doc_id""".stripMargin,

    // C4-style blocklist gate (x73): token join against the term list;
    // NULL text coalesces to '' on both engines, no-hit docs survive
    // the left join with zeros.
    "x73_blocklist" ->
      """WITH bl AS (SELECT unnest(['slow', 'spark', 'window']) AS w),
        |  tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS w
        |          FROM documents),
        |  hit AS (SELECT doc_id,
        |            CAST(count(*) AS BIGINT) AS n_hits,
        |            CAST(count(DISTINCT w) AS BIGINT) AS n_terms
        |          FROM tok JOIN bl USING (w) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       coalesce(h.n_hits, 0) AS n_hits,
        |       coalesce(h.n_terms, 0) AS n_terms,
        |       coalesce(h.n_hits, 0) > 0 AS flagged
        |FROM documents d LEFT JOIN hit h USING (doc_id)""".stripMargin,

    // CCNet perplexity banding: the x55 LM-score chain, then DuckDB's
    // NATIVE ntile(3) per language over (score DESC, doc_id) — the
    // Spark side derives the same band via the x36-style decomposed
    // rank + closed-form ntile arithmetic, so band assignment is
    // cross-proved by two independent constructions.
    "x70_ppl_buckets" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |  bo AS (SELECT doc_id, b['w1'] AS w1, b['g'] AS g FROM (
        |    SELECT doc_id, unnest(
        |      [{'w1': s[i], 'g': s[i] || ' ' || s[i+1]} FOR i IN range(1, len(s))]) AS b
        |    FROM tr)),
        |  c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM bo GROUP BY g),
        |  c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |         FROM (SELECT unnest(s) AS w FROM tr) GROUP BY w),
        |  sc AS (SELECT bo.doc_id,
        |           CAST(count(*) AS BIGINT) AS n_bigrams,
        |           CAST(sum((1000000 * c2.c2) // c1.c1) AS BIGINT) AS tot
        |         FROM bo JOIN c2 USING (g) JOIN c1 ON bo.w1 = c1.w
        |         GROUP BY bo.doc_id),
        |  lm AS (SELECT d.doc_id, d.lang,
        |           CAST(coalesce(s.tot // s.n_bigrams, 0) AS BIGINT) AS score_ppm
        |         FROM documents d LEFT JOIN sc s USING (doc_id))
        |SELECT doc_id, lang, score_ppm, CAST(bucket AS BIGINT) AS bucket,
        |       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |            ELSE 'tail' END AS band
        |FROM (SELECT doc_id, lang, score_ppm,
        |        ntile(3) OVER (PARTITION BY lang
        |                       ORDER BY score_ppm DESC, doc_id) AS bucket
        |      FROM lm)""".stripMargin,

    // Column profiling: the oracle unpivots via UNION ALL (a different
    // construction than Spark's array-explode — cross-proof). Both
    // profile the CANONICAL string form; NULL survives the cast, lands
    // in n_nulls, and is excluded from the distinct/length stats.
    "x51_profile" ->
      """WITH s AS (
        |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
        |  UNION ALL SELECT 'text', text FROM documents
        |  UNION ALL SELECT 'lang', lang FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents)
        |SELECT col_name,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(*) - count(v) AS BIGINT) AS n_nulls,
        |       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |       COALESCE(CAST(min(length(v)) AS BIGINT), 0) AS min_len,
        |       COALESCE(CAST(max(length(v)) AS BIGINT), 0) AS max_len
        |FROM s GROUP BY col_name""".stripMargin,

    // Source drift: scaled L1 distance between each source's token
    // distribution and the corpus, exact in HUGEINT (Spark side:
    // DECIMAL(38,0)) — absent tokens folded in closed form as
    // n_s·(N − Σ_present c_t), so no outer join. Sources with zero
    // tokens appear on NEITHER side (no distribution to drift).
    "x52_source_drift" ->
      """WITH st AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS c_st
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY source, token),
        |tok AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY token),
        |src AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY source),
        |tot AS (SELECT CAST(coalesce(sum(n_s), 0) AS BIGINT) AS n FROM src),
        |agg AS (
        |  SELECT st.source,
        |         CAST(sum(st.c_st) AS BIGINT) AS n_tokens,
        |         sum(abs(st.c_st::HUGEINT * tot.n - tok.c_t::HUGEINT * src.n_s))
        |           AS present_abs,
        |         sum(tok.c_t::HUGEINT) AS present_ct,
        |         max(src.n_s) AS n_s, max(tot.n) AS n
        |  FROM st
        |  JOIN tok USING (token)
        |  JOIN src ON st.source IS NOT DISTINCT FROM src.source
        |  CROSS JOIN tot
        |  GROUP BY st.source)
        |SELECT source, n_tokens,
        |       CAST((1000000::HUGEINT * (present_abs + n_s::HUGEINT * (n - present_ct)))
        |            // (n::HUGEINT * n_s::HUGEINT) AS BIGINT) AS drift_ppm
        |FROM agg""".stripMargin,

    "x27_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token)
        |SELECT doc_id, "rank", token, score FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf * 1000000 // df.df AS score,
        |         CAST(row_number() OVER (PARTITION BY tf.doc_id
        |              ORDER BY tf.tf * 1000000 // df.df DESC, tf.token) AS INT)
        |           AS "rank"
        |  FROM tf JOIN df USING (token)) WHERE "rank" <= 3""".stripMargin,

    // Int8 quantization: every step per-row IEEE double math written
    // identically on both sides (cast to double, *127.0, /m, floor,
    // clamp at -127 for the double-rounding edge) — bit-deterministic;
    // the md5 over the comma-joined ints pins all 64 elements without
    // hash-comparing raw arrays. NULL embeddings coalesce to [] and
    // empty sums to 0 on both engines.
    "x28_quantize" ->
      """SELECT vec_id,
        |       md5(array_to_string(q, ',')) AS q_hash,
        |       list_min(q) AS q_min,
        |       list_max(q) AS q_max,
        |       CAST(coalesce(list_sum(q), 0) AS BIGINT) AS q_sum
        |FROM (
        |  SELECT vec_id,
        |         CASE WHEN m IS NULL OR m = 0
        |              THEN list_transform(e, x -> 0)
        |              ELSE list_transform(e,
        |                x -> CAST(greatest(-127, floor(CAST(x AS DOUBLE) * 127.0 / m)) AS INT))
        |         END AS q
        |  FROM (SELECT vec_id, coalesce(embedding, []) AS e,
        |               list_max(list_transform(coalesce(embedding, []),
        |                 x -> abs(CAST(x AS DOUBLE)))) AS m
        |        FROM embeddings))""".stripMargin,

    // Corpus assembly: salted md5 content buckets, integer thresholds
    // only (a float weight boundary could flip a row between engines).
    "x20_hash_split" ->
      """SELECT doc_id,
        |       CASE WHEN b < 900 THEN 'train'
        |            WHEN b < 950 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(text || 'split-v1'), 1, 8))::BIGINT % 1000 AS b
        |      FROM documents)""".stripMargin,

    // Chunk-level language consistency: the x39 chunk comprehension +
    // the GENERATED per-language scores and argmax CASE (single source
    // of truth in TextStats.langMarkers, like x7) applied per chunk,
    // then a lag window counts adjacent switches.
    "x67_lang_segments" ->
      s"""WITH toks0 AS (
         |  SELECT doc_id, string_split(
         |    CASE WHEN doc_id % 20 = 0
         |         THEN text || repeat(' der und die das nicht ist', 3)
         |         ELSE text END, ' ') AS s
         |  FROM documents WHERE text IS NOT NULL),
         |  ch AS (SELECT doc_id, r['ci'] AS ci, r['c'] AS c FROM (
         |    SELECT doc_id, unnest([{'ci': i, 'c': array_to_string(s[i*10+1:i*10+10], ' ')}
         |                           FOR i IN range(0, CAST(ceil(len(s)/10.0) AS INT))]) AS r
         |    FROM toks0)),
         |  scored AS (SELECT doc_id, ci, $langScore
         |             FROM (SELECT doc_id, ci, string_split(c, ' ') AS toks FROM ch)),
         |  best AS (SELECT doc_id, ci, $langCase AS chunk_lang FROM scored),
         |  lagd AS (SELECT doc_id, chunk_lang,
         |             lag(chunk_lang) OVER (PARTITION BY doc_id ORDER BY ci) AS prev
         |           FROM best)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(count(DISTINCT chunk_lang) AS BIGINT) AS n_langs,
         |       CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> chunk_lang
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_switches,
         |       count(DISTINCT chunk_lang) > 1 AS is_mixed
         |FROM lagd GROUP BY doc_id""".stripMargin,

    // Stratified sample: the same salted-hash ranking (md5-32 idiom)
    // with the doc_id tiebreak; text coalesced to '' BEFORE hashing on
    // both engines so NULL ordering can never matter.
    "x66_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY ('0x' || substr(md5(coalesce(text, '') || 'sample-v1'), 1, 8))::BIGINT,
        |                    doc_id) AS rn
        |  FROM documents) WHERE rn <= 15""".stripMargin,

    // HTML extraction: the same strip-then-decode-then-collapse chain
    // character-for-character (order is the contract: tags first, so
    // literal &lt;b&gt; text is never eaten as markup; the numeric
    // apostrophe decodes in both its decimal and hex spellings; &amp;
    // decodes LAST so the planted ESCAPED reference &amp;#x27;
    // survives as the literal '&#x27;' instead of double-decoding);
    // round-trips to original + ' tail & it''s ''done'' aka &#x27;'
    // by construction, which the md5 pins.
    "x65_html_extract" ->
      """WITH p AS (SELECT doc_id,
        |    '<html><body class="doc"><p>' ||
        |    regexp_replace(text, ' value ', ' <b>value</b> ', 'g') ||
        |    '</p> <p>tail &amp; it&#39;s &#x27;done&#x27; aka &amp;#x27;</p></body></html>' AS text
        |  FROM documents),
        |  s AS (SELECT doc_id, text,
        |    trim(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '<[^>]+>', ' ', 'g'),
        |        '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |        '&#39;', chr(39), 'g'), '&#x27;', chr(39), 'g'), '&amp;', '&', 'g'),
        |      ' +', ' ', 'g')) AS clean
        |  FROM p)
        |SELECT doc_id, md5(clean) AS clean_hash, CAST(length(clean) AS INT) AS n_chars,
        |       CAST(len(regexp_extract_all(text, '<[^>]+>')) AS INT) AS n_tags
        |FROM s""".stripMargin,

    // Span-trim decontamination: positional 13-token windows (the x35
    // struct-comprehension idiom), eval hits expand to covered token
    // positions, and the doc rebuilds from uncovered tokens via
    // ORDER BY string_agg — md5 cross-proves the rebuild against
    // Spark's array_sort(collect_list) construction; a fully-covered
    // doc hashes '' on both sides.
    "x64_decontaminate_trim" ->
      """WITH tr AS (SELECT doc_id, string_split(text, ' ') AS s
        |            FROM documents WHERE text IS NOT NULL),
        |  tg AS (SELECT doc_id, r['pos'] AS pos, r['g'] AS g FROM (
        |     SELECT doc_id, unnest([{'pos': i-1, 'g': array_to_string(s[i:i+12], ' ')}
        |                            FOR i IN range(1, len(s)-11)]) AS r FROM tr)),
        |  ev_src AS (SELECT list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  ev AS (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  mw AS (SELECT doc_id, pos FROM tg JOIN ev USING (g)),
        |  cov AS (SELECT DISTINCT doc_id, unnest([pos + i FOR i IN range(0, 13)]) AS tpos
        |          FROM mw),
        |  tok AS (SELECT doc_id, r['p'] AS tpos, r['t'] AS tok FROM (
        |     SELECT doc_id, unnest([{'p': i-1, 't': s[i]} FOR i IN range(1, len(s)+1)]) AS r
        |     FROM tr)),
        |  j AS (SELECT t.doc_id, t.tpos, t.tok, c.tpos IS NOT NULL AS covered
        |        FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |       md5(COALESCE(string_agg(CASE WHEN NOT covered THEN tok END, ' ' ORDER BY tpos), ''))
        |         AS clean_hash
        |FROM j GROUP BY doc_id""".stripMargin,

    // Fuzzy decontamination: brute-force cross-set Jaccard (corpus ×
    // planted eval set — full texts of every 50th doc plus a suffix)
    // vs the Spark side's banded candidates + exact verify; the
    // quadratic is corpus × benchmark (small), not corpus².
    "x63_fuzzy_decontaminate" ->
      s"""WITH $shingleCte,
         |  ev0 AS (SELECT doc_id, string_split(text || ' zz eval benchmark suffix', ' ') AS s
         |          FROM documents WHERE doc_id % 50 = 0),
         |  evs AS (SELECT doc_id AS eval_id,
         |            list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
         |                           FOR i IN range(1, len(s)-1)]) AS sh
         |          FROM ev0),
         |  hits AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_eval_neardups
         |           FROM sh t JOIN evs e
         |             ON CAST(len(list_intersect(t.sh, e.sh)) AS DOUBLE) /
         |                len(list_distinct(list_concat(t.sh, e.sh))) >= 0.8
         |           GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |       coalesce(h.n_eval_neardups, 0) AS n_eval_neardups,
         |       coalesce(h.n_eval_neardups, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    // The composed prep-job funnel: the planted raw corpus (x25 damage
    // + exact copies of every 25th doc), then every stage re-derived in
    // SQL — normalize (x25's chain), the gopher gate predicate (x40's
    // metrics), exact-unique keeper window, the x2 brute-force pair set
    // restricted to the unique survivors feeding the x24 recursive
    // closure and the x46 quality-ranked keeper, the x19 containment
    // drop, and the x20 split of what remains. Counts only — one row
    // per stage.
    "x62_prep_job" ->
      """WITH RECURSIVE
        |  raw AS (
        |    SELECT doc_id,
        |           CASE WHEN doc_id % 10 = 0 THEN upper(text)
        |                ELSE regexp_replace(text, ' th', '  th', 'g') END AS text
        |    FROM documents
        |    UNION ALL
        |    SELECT doc_id + 2000000, upper(text) FROM documents WHERE doc_id % 25 = 0),
        |  norm AS (SELECT doc_id,
        |             trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS text
        |           FROM raw),
        |  gm AS (SELECT doc_id,
        |           len(list_filter(string_split(COALESCE(text, ''), ' '),
        |               t -> length(t) > 0)) AS n_words,
        |           length(replace(COALESCE(text, ''), ' ', '')) AS n_alpha,
        |           length(regexp_replace(COALESCE(text, ''), '[a-z0-9 ]', '', 'g')) AS n_sym,
        |           len(list_filter(string_split(COALESCE(text, ''), ' '),
        |               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |         FROM norm),
        |  gate AS (SELECT n.doc_id, n.text FROM norm n JOIN gm USING (doc_id)
        |           WHERE gm.n_words >= 50 AND gm.n_words <= 100000
        |             AND (CASE WHEN gm.n_words = 0 THEN 0.0
        |                       ELSE CAST(gm.n_alpha AS DOUBLE) / gm.n_words END) >= 3.0
        |             AND (CASE WHEN gm.n_words = 0 THEN 0.0
        |                       ELSE CAST(gm.n_alpha AS DOUBLE) / gm.n_words END) <= 10.0
        |             AND (CASE WHEN gm.n_words = 0 THEN 0.0
        |                       ELSE CAST(gm.n_sym AS DOUBLE) / gm.n_words END) <= 0.1
        |             AND gm.n_stop >= 2),
        |  uniq AS (SELECT doc_id, text FROM (
        |             SELECT doc_id, text,
        |                    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |             FROM gate) WHERE rn = 1),
        |  us AS (SELECT doc_id, string_split(text, ' ') AS s FROM uniq),
        |  sh AS (SELECT doc_id,
        |           list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                          FOR i IN range(1, len(s)-1)]) AS sh
        |         FROM us),
        |  exg AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
        |  inter AS (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS i
        |    FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (
        |    SELECT a_id, b_id FROM inter i
        |    JOIN sz sa ON sa.doc_id = i.a_id
        |    JOIN sz sb ON sb.doc_id = i.b_id
        |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
        |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
        |        UNION SELECT b_id, a_id FROM pairs),
        |  reach(a, b) AS (
        |    SELECT a, b FROM e
        |    UNION
        |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |  comp AS (SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
        |           FROM (SELECT DISTINCT a FROM e) n JOIN reach r ON r.a = n.a
        |           GROUP BY n.a),
        |  qm AS (SELECT doc_id,
        |           len(string_split(text, ' ')) AS n_tokens,
        |           len(list_filter(string_split(text, ' '),
        |               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
        |           length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
        |           length(text) AS n_chars
        |         FROM uniq),
        |  q AS (SELECT doc_id,
        |          (CASE WHEN n_tokens < 5 THEN 0.0
        |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
        |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
        |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
        |           END) AS quality_score
        |        FROM qm),
        |  ranked AS (
        |    SELECT c.component, c.doc_id,
        |           row_number() OVER (PARTITION BY c.component
        |                              ORDER BY q.quality_score DESC, c.doc_id) AS rn
        |    FROM comp c JOIN q USING (doc_id)),
        |  dropids AS (SELECT doc_id FROM ranked WHERE rn > 1),
        |  nd AS (SELECT u.doc_id, u.text FROM uniq u
        |         LEFT JOIN dropids dr ON u.doc_id = dr.doc_id WHERE dr.doc_id IS NULL),
        |  tg AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s2[i:i+12], ' ') FOR i IN range(1, len(s2)-11)])) AS g
        |         FROM (SELECT doc_id, string_split(text, ' ') AS s2 FROM nd)),
        |  ev_src AS (SELECT list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  ev AS (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  cont AS (SELECT DISTINCT doc_id FROM tg JOIN ev USING (g)),
        |  clean AS (SELECT nd.doc_id, nd.text FROM nd
        |            LEFT JOIN cont ON nd.doc_id = cont.doc_id WHERE cont.doc_id IS NULL),
        |  spl AS (SELECT doc_id,
        |            CASE WHEN b < 900 THEN 'train'
        |                 WHEN b < 950 THEN 'val'
        |                 ELSE 'test' END AS split
        |          FROM (SELECT doc_id,
        |                  ('0x' || substr(md5(text || 'split-v1'), 1, 8))::BIGINT % 1000 AS b
        |                FROM clean))
        |SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM raw
        |UNION ALL SELECT '2_gate_passed', CAST(count(*) AS BIGINT) FROM gate
        |UNION ALL SELECT '3_exact_unique', CAST(count(*) AS BIGINT) FROM uniq
        |UNION ALL SELECT '4_neardup_kept', CAST(count(*) AS BIGINT) FROM nd
        |UNION ALL SELECT '5_clean', CAST(count(*) AS BIGINT) FROM clean
        |UNION ALL SELECT '6_split_' || split, CAST(count(*) AS BIGINT) FROM spl
        |GROUP BY split""".stripMargin,

    // The incremental prep-job funnel: phase A re-derives the initial
    // run()'s standing corpus (the x62 chain over the docs with
    // doc_id % 3 <> 0, no planted damage), phase B re-derives ONE
    // increment() tick over the % 3 = 0 docs + planted history
    // collisions — exact copies of standing docs (hash anti-join vs
    // the corpus), near-copies of standing docs (brute-force corpus x
    // batch Jaccard >= 0.8, the stored-index probe's cross-proof),
    // within-batch near-twins (the batch's own closure + quality
    // keeper), then containment decontamination and the content-hash
    // split. CTEs shared across both phases are MATERIALIZED: DuckDB
    // inlines CTE uses, and the doubled chain re-expands the whole
    // upstream tree per reference (bind time opened the source
    // parquet thousands of times and died on fds before
    // materialization pinned the DAG).
    "x68_incr_funnel" ->
      """WITH RECURSIVE
        |  raw0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |  norm0 AS MATERIALIZED (SELECT doc_id,
        |              trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS text
        |            FROM raw0),
        |  gm0 AS (SELECT doc_id,
        |           len(list_filter(string_split(COALESCE(text, ''), ' '),
        |               t -> length(t) > 0)) AS n_words,
        |           length(replace(COALESCE(text, ''), ' ', '')) AS n_alpha,
        |           length(regexp_replace(COALESCE(text, ''), '[a-z0-9 ]', '', 'g')) AS n_sym,
        |           len(list_filter(string_split(COALESCE(text, ''), ' '),
        |               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |         FROM norm0),
        |  gate0 AS MATERIALIZED (SELECT n.doc_id, n.text FROM norm0 n JOIN gm0 USING (doc_id)
        |           WHERE gm0.n_words >= 50 AND gm0.n_words <= 100000
        |             AND (CASE WHEN gm0.n_words = 0 THEN 0.0
        |                       ELSE CAST(gm0.n_alpha AS DOUBLE) / gm0.n_words END) >= 3.0
        |             AND (CASE WHEN gm0.n_words = 0 THEN 0.0
        |                       ELSE CAST(gm0.n_alpha AS DOUBLE) / gm0.n_words END) <= 10.0
        |             AND (CASE WHEN gm0.n_words = 0 THEN 0.0
        |                       ELSE CAST(gm0.n_sym AS DOUBLE) / gm0.n_words END) <= 0.1
        |             AND gm0.n_stop >= 2),
        |  uniq0 AS MATERIALIZED (SELECT doc_id, text FROM (
        |             SELECT doc_id, text,
        |                    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |             FROM gate0) WHERE rn = 1),
        |  us0 AS (SELECT doc_id, string_split(text, ' ') AS s FROM uniq0),
        |  sh0 AS MATERIALIZED (SELECT doc_id,
        |           list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                          FOR i IN range(1, len(s)-1)]) AS sh
        |         FROM us0),
        |  exg0 AS (SELECT doc_id, unnest(sh) AS g FROM sh0),
        |  sz0 AS (SELECT doc_id, len(sh) AS sz FROM sh0),
        |  inter0 AS (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS i
        |    FROM exg0 a JOIN exg0 b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs0 AS (
        |    SELECT a_id, b_id FROM inter0 i
        |    JOIN sz0 sa ON sa.doc_id = i.a_id
        |    JOIN sz0 sb ON sb.doc_id = i.b_id
        |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
        |  e0 AS (SELECT a_id AS a, b_id AS b FROM pairs0
        |        UNION SELECT b_id, a_id FROM pairs0),
        |  reach0(a, b) AS (
        |    SELECT a, b FROM e0
        |    UNION
        |    SELECT r.a, e2.b FROM reach0 r JOIN e0 e2 ON r.b = e2.a),
        |  comp0 AS (SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
        |           FROM (SELECT DISTINCT a FROM e0) n JOIN reach0 r ON r.a = n.a
        |           GROUP BY n.a),
        |  qm0 AS (SELECT doc_id,
        |           len(string_split(text, ' ')) AS n_tokens,
        |           len(list_filter(string_split(text, ' '),
        |               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
        |           length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
        |           length(text) AS n_chars
        |         FROM uniq0),
        |  q0 AS (SELECT doc_id,
        |          (CASE WHEN n_tokens < 5 THEN 0.0
        |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
        |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
        |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
        |           END) AS quality_score
        |        FROM qm0),
        |  ranked0 AS (
        |    SELECT c.component, c.doc_id,
        |           row_number() OVER (PARTITION BY c.component
        |                              ORDER BY q.quality_score DESC, c.doc_id) AS rn
        |    FROM comp0 c JOIN q0 q USING (doc_id)),
        |  drop0 AS (SELECT doc_id FROM ranked0 WHERE rn > 1),
        |  nd0 AS (SELECT u.doc_id, u.text FROM uniq0 u
        |         LEFT JOIN drop0 dr ON u.doc_id = dr.doc_id WHERE dr.doc_id IS NULL),
        |  ev_src AS (SELECT list_slice(string_split(text, ' '), 5, 30) AS s
        |             FROM documents WHERE doc_id % 50 = 0),
        |  ev AS MATERIALIZED (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM ev_src),
        |  tg0 AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s2[i:i+12], ' ') FOR i IN range(1, len(s2)-11)])) AS g
        |         FROM (SELECT doc_id, string_split(text, ' ') AS s2 FROM nd0)),
        |  cont0 AS (SELECT DISTINCT doc_id FROM tg0 JOIN ev USING (g)),
        |  clean0 AS MATERIALIZED (SELECT nd0.doc_id, nd0.text FROM nd0
        |            LEFT JOIN cont0 ON nd0.doc_id = cont0.doc_id WHERE cont0.doc_id IS NULL),
        |  braw AS (
        |    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |    UNION ALL
        |    SELECT doc_id + 4000000, text FROM documents
        |    WHERE doc_id % 3 <> 0 AND doc_id % 5 = 0
        |    UNION ALL
        |    SELECT doc_id + 5000000, text || ' zz incr suffix' FROM documents
        |    WHERE doc_id % 3 <> 0 AND doc_id % 7 = 0
        |    UNION ALL
        |    SELECT doc_id + 6000000, text || ' qq batch twin' FROM documents
        |    WHERE doc_id % 3 = 0 AND doc_id % 11 = 0),
        |  bnorm AS MATERIALIZED (SELECT doc_id,
        |              trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS text
        |            FROM braw),
        |  bgm AS (SELECT doc_id,
        |           len(list_filter(string_split(COALESCE(text, ''), ' '),
        |               t -> length(t) > 0)) AS n_words,
        |           length(replace(COALESCE(text, ''), ' ', '')) AS n_alpha,
        |           length(regexp_replace(COALESCE(text, ''), '[a-z0-9 ]', '', 'g')) AS n_sym,
        |           len(list_filter(string_split(COALESCE(text, ''), ' '),
        |               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |         FROM bnorm),
        |  bgate AS MATERIALIZED (SELECT n.doc_id, n.text FROM bnorm n JOIN bgm USING (doc_id)
        |           WHERE bgm.n_words >= 50 AND bgm.n_words <= 100000
        |             AND (CASE WHEN bgm.n_words = 0 THEN 0.0
        |                       ELSE CAST(bgm.n_alpha AS DOUBLE) / bgm.n_words END) >= 3.0
        |             AND (CASE WHEN bgm.n_words = 0 THEN 0.0
        |                       ELSE CAST(bgm.n_alpha AS DOUBLE) / bgm.n_words END) <= 10.0
        |             AND (CASE WHEN bgm.n_words = 0 THEN 0.0
        |                       ELSE CAST(bgm.n_sym AS DOUBLE) / bgm.n_words END) <= 0.1
        |             AND bgm.n_stop >= 2),
        |  buw AS (SELECT doc_id, text FROM (
        |             SELECT doc_id, text,
        |                    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |             FROM bgate) WHERE rn = 1),
        |  ch AS (SELECT DISTINCT md5(text) AS h FROM clean0),
        |  buniq AS MATERIALIZED (SELECT u.doc_id, u.text FROM buw u
        |            LEFT JOIN ch ON md5(u.text) = ch.h WHERE ch.h IS NULL),
        |  bus AS (SELECT doc_id, string_split(text, ' ') AS s FROM buniq),
        |  bsh AS MATERIALIZED (SELECT doc_id,
        |           list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                          FOR i IN range(1, len(s)-1)]) AS sh
        |         FROM bus),
        |  bexg AS (SELECT doc_id, unnest(sh) AS g FROM bsh),
        |  bsz AS (SELECT doc_id, len(sh) AS sz FROM bsh),
        |  binter AS (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS i
        |    FROM bexg a JOIN bexg b ON a.g = b.g AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  bpairs AS (
        |    SELECT a_id, b_id FROM binter i
        |    JOIN bsz sa ON sa.doc_id = i.a_id
        |    JOIN bsz sb ON sb.doc_id = i.b_id
        |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
        |  be AS (SELECT a_id AS a, b_id AS b FROM bpairs
        |        UNION SELECT b_id, a_id FROM bpairs),
        |  breach(a, b) AS (
        |    SELECT a, b FROM be
        |    UNION
        |    SELECT r.a, e2.b FROM breach r JOIN be e2 ON r.b = e2.a),
        |  bcomp AS (SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
        |           FROM (SELECT DISTINCT a FROM be) n JOIN breach r ON r.a = n.a
        |           GROUP BY n.a),
        |  bqm AS (SELECT doc_id,
        |           len(string_split(text, ' ')) AS n_tokens,
        |           len(list_filter(string_split(text, ' '),
        |               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
        |           length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
        |           length(text) AS n_chars
        |         FROM buniq),
        |  bq AS (SELECT doc_id,
        |          (CASE WHEN n_tokens < 5 THEN 0.0
        |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
        |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
        |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
        |           END) AS quality_score
        |        FROM bqm),
        |  branked AS (
        |    SELECT c.component, c.doc_id,
        |           row_number() OVER (PARTITION BY c.component
        |                              ORDER BY q.quality_score DESC, c.doc_id) AS rn
        |    FROM bcomp c JOIN bq q USING (doc_id)),
        |  bdrop AS (SELECT doc_id FROM branked WHERE rn > 1),
        |  bkept AS MATERIALIZED (SELECT u.doc_id, u.text FROM buniq u
        |           LEFT JOIN bdrop dr ON u.doc_id = dr.doc_id WHERE dr.doc_id IS NULL),
        |  cs AS (SELECT doc_id, string_split(text, ' ') AS s FROM clean0),
        |  csh AS MATERIALIZED (SELECT doc_id,
        |           list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                          FOR i IN range(1, len(s)-1)]) AS sh
        |         FROM cs),
        |  cexg AS (SELECT doc_id, unnest(sh) AS g FROM csh),
        |  csz AS (SELECT doc_id, len(sh) AS sz FROM csh),
        |  bkexg AS (SELECT e.doc_id, e.g FROM bexg e JOIN bkept k ON e.doc_id = k.doc_id),
        |  hinter AS (
        |    SELECT c.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS i
        |    FROM cexg c JOIN bkexg b ON c.g = b.g
        |    GROUP BY 1, 2),
        |  hist AS (SELECT DISTINCT h.b_id AS doc_id FROM hinter h
        |           JOIN csz sa ON sa.doc_id = h.a_id
        |           JOIN bsz sb ON sb.doc_id = h.b_id
        |           WHERE 10 * h.i >= 8 * (sa.sz + sb.sz - h.i)),
        |  bnd AS (SELECT k.doc_id, k.text FROM bkept k
        |         LEFT JOIN hist ON k.doc_id = hist.doc_id WHERE hist.doc_id IS NULL),
        |  btg AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s2[i:i+12], ' ') FOR i IN range(1, len(s2)-11)])) AS g
        |         FROM (SELECT doc_id, string_split(text, ' ') AS s2 FROM bnd)),
        |  bcont AS (SELECT DISTINCT doc_id FROM btg JOIN ev USING (g)),
        |  bclean AS (SELECT bnd.doc_id, bnd.text FROM bnd
        |            LEFT JOIN bcont ON bnd.doc_id = bcont.doc_id WHERE bcont.doc_id IS NULL),
        |  bspl AS (SELECT doc_id,
        |            CASE WHEN b < 900 THEN 'train'
        |                 WHEN b < 950 THEN 'val'
        |                 ELSE 'test' END AS split
        |          FROM (SELECT doc_id,
        |                  ('0x' || substr(md5(text || 'split-v1'), 1, 8))::BIGINT % 1000 AS b
        |                FROM bclean))
        |SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM braw
        |UNION ALL SELECT '2_gate_passed', CAST(count(*) AS BIGINT) FROM bgate
        |UNION ALL SELECT '3_exact_unique', CAST(count(*) AS BIGINT) FROM buniq
        |UNION ALL SELECT '4_neardup_kept', CAST(count(*) AS BIGINT) FROM bnd
        |UNION ALL SELECT '5_clean', CAST(count(*) AS BIGINT) FROM bclean
        |UNION ALL SELECT '6_split_' || split, CAST(count(*) AS BIGINT) FROM bspl
        |GROUP BY split""".stripMargin,

    // Corpus-level boilerplate-prefix removal: the planted nav line's
    // per-source share (~25%) crosses the 20% flag threshold; exact
    // integer share arithmetic (cnt*100 >= tot*20, cnt >= 2 so a
    // single-doc source never flags its own head), per-(source,
    // prefix) grouping, md5-pinned trimmed rebuild. DuckDB's
    // inclusive list slice toks[11:len] == Spark slice(toks, 11,
    // greatest(len-10, 0)); both engines split '' to [''] so an
    // empty text is one token on each side.
    "x69_boilerplate_prefix" ->
      """WITH p AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN 'home menu search login cart help contact about terms privacy ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |  b AS (SELECT doc_id, COALESCE(source, '') AS source,
        |          string_split(COALESCE(text, ''), ' ') AS toks
        |        FROM p),
        |  wp AS (SELECT doc_id, source, toks,
        |           array_to_string(toks[1:10], ' ') AS prefix FROM b),
        |  c AS (SELECT source, prefix, CAST(count(*) AS BIGINT) AS cnt
        |        FROM wp GROUP BY 1, 2),
        |  t AS (SELECT source, CAST(count(*) AS BIGINT) AS tot FROM wp GROUP BY 1),
        |  f AS (SELECT c.source, c.prefix FROM c JOIN t USING (source)
        |        WHERE c.cnt >= 2 AND c.cnt * 100 >= t.tot * 20)
        |SELECT w.doc_id,
        |       f.prefix IS NOT NULL AS is_boilerplate,
        |       CAST(len(w.toks) AS INT) AS n_tokens,
        |       CAST(CASE WHEN f.prefix IS NOT NULL THEN least(10, len(w.toks)) ELSE 0 END AS INT)
        |         AS n_trimmed,
        |       md5(CASE WHEN f.prefix IS NOT NULL
        |                THEN array_to_string(w.toks[11:len(w.toks)], ' ')
        |                ELSE array_to_string(w.toks, ' ') END) AS clean_hash
        |FROM wp w LEFT JOIN f ON w.source = f.source AND w.prefix = f.prefix""".stripMargin,

    // N-gram novelty: min-doc_id first-owner per distinct 3-gram, the
    // doc's novel fraction in integer ppm; left join keeps docs whose
    // texts are too short for a single shingle at zero.
    "x79_ngram_novelty" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  fo AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY 1),
         |  c AS (SELECT ex.doc_id,
         |          CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(sum(CASE WHEN fo.first_doc = ex.doc_id THEN 1 ELSE 0 END)
         |               AS BIGINT) AS n_novel
         |        FROM ex JOIN fo USING (g) GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(c.n_shingles, 0) AS n_shingles,
         |       COALESCE(c.n_novel, 0) AS n_novel,
         |       CASE WHEN COALESCE(c.n_shingles, 0) > 0
         |            THEN 1000000 * c.n_novel // c.n_shingles
         |            ELSE 0 END AS novelty_ppm
         |FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id""".stripMargin,

    // kNN label agreement: the x3 brute-force construction at
    // queryMod=10, labels joined onto both edge ends, strict-minority
    // suspect flag — integer-only output.
    "x80_knn_agreement" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS q_label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv
        |           FROM embeddings WHERE vec_id % 10 = 0),
        |     c AS (SELECT vec_id, label AS nbr_label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |     s AS (SELECT query_id, q_label, vec_id, nbr_label,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id),
        |     topk AS (SELECT query_id, q_label, nbr_label FROM (
        |       SELECT query_id, q_label, nbr_label,
        |              row_number() OVER (PARTITION BY query_id
        |                   ORDER BY cos DESC, vec_id) AS rn
        |       FROM s) WHERE rn <= 5)
        |SELECT query_id AS vec_id, q_label AS label,
        |       CAST(count(*) AS BIGINT) AS n_neighbors,
        |       CAST(sum(CASE WHEN nbr_label = q_label THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_agree,
        |       2 * sum(CASE WHEN nbr_label = q_label THEN 1 ELSE 0 END)
        |         < count(*) AS suspect
        |FROM topk GROUP BY 1, 2""".stripMargin,

    // Source-pair duplication matrix: the x18 exact-Jaccard pair body
    // with sources joined onto both ends, canonical (least, greatest)
    // pair order.
    "x81_source_dup_matrix" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT i.a_id, i.b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i))
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.a_id
         |JOIN documents db ON db.doc_id = p.b_id
         |GROUP BY 1, 2""".stripMargin,

    // Vocabulary truncation: planted singleton tokens (`uniq<doc_id>`
    // on every %9 doc) fall below minCount=5, the 31-token shared
    // vocabulary stays far above; positional rebuild with `<unk>`
    // substitution, md5-pinned via ORDER BY string_agg (the x64
    // rebuild cross-proof against Spark's collect_list + array_sort).
    "x77_rare_token_scrub" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0 THEN text || ' uniq' || doc_id
        |         ELSE text END AS text
        |  FROM documents),
        |b AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS s FROM p),
        |tok AS (SELECT doc_id, r['p'] AS tpos, r['t'] AS tok FROM (
        |   SELECT doc_id, unnest([{'p': i-1, 't': s[i]} FOR i IN range(1, len(s)+1)]) AS r
        |   FROM b)),
        |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
        |rare AS (SELECT tok FROM cnt WHERE c < 5),
        |j AS (SELECT t.doc_id, t.tpos,
        |             CASE WHEN r.tok IS NOT NULL THEN '<unk>' ELSE t.tok END AS out_tok,
        |             r.tok IS NOT NULL AS is_rare
        |      FROM tok t LEFT JOIN rare r ON t.tok = r.tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN is_rare THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
        |       md5(string_agg(out_tok, ' ' ORDER BY tpos)) AS clean_hash
        |FROM j GROUP BY doc_id""".stripMargin,

    // Pagination stitching: planted "page two" docs at id+7e6 open
    // with their source's last 10 tokens; the boundary join is exact
    // and directional (tail → head). DuckDB's inclusive slice
    // s[len-9:len] is Spark's slice(toks, -10, 10).
    "x78_page_stitch" ->
      """WITH p2 AS (SELECT doc_id + 7000000 AS doc_id,
        |    array_to_string(s[len(s)-9:len(s)], ' ')
        |      || ' stitched continuation page two marker' AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s
        |        FROM documents WHERE doc_id % 13 = 0)),
        |allr AS (SELECT doc_id, text FROM documents
        |         UNION ALL SELECT doc_id, text FROM p2),
        |q AS (SELECT doc_id, s FROM
        |        (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS s FROM allr)
        |      WHERE len(s) >= 10),
        |heads AS (SELECT doc_id AS next_id, array_to_string(s[1:10], ' ') AS bd FROM q),
        |tails AS (SELECT doc_id AS prev_id,
        |            array_to_string(s[len(s)-9:len(s)], ' ') AS bd FROM q)
        |SELECT t.prev_id, h.next_id
        |FROM tails t JOIN heads h USING (bd)
        |WHERE t.prev_id <> h.next_id""".stripMargin,

    // Cross-split leakage: the x20 split (hashed on ORIGINAL text) +
    // the x19 containment body; the planted quote is a scalar subquery
    // over the first test doc, appended to every 10th train doc.
    "x61_split_leakage" ->
      """WITH sp AS (
        |    SELECT doc_id, text,
        |           CASE WHEN b < 900 THEN 'train'
        |                WHEN b < 950 THEN 'val'
        |                ELSE 'test' END AS split
        |    FROM (SELECT doc_id, text,
        |            ('0x' || substr(md5(text || 'split-v1'), 1, 8))::BIGINT % 1000 AS b
        |          FROM documents)),
        |  q AS (SELECT array_to_string(list_slice(string_split(text, ' '), 5, 30), ' ') AS quote
        |        FROM sp WHERE split = 'test' ORDER BY doc_id LIMIT 1),
        |  tr AS (SELECT doc_id,
        |           CASE WHEN doc_id % 10 = 0 THEN text || ' ' || q.quote
        |                ELSE text END AS text
        |         FROM sp CROSS JOIN q WHERE split = 'train'),
        |  tg AS (SELECT doc_id, unnest(list_distinct(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)])) AS g
        |         FROM (SELECT doc_id, string_split(text, ' ') AS s FROM tr)),
        |  ev AS (SELECT DISTINCT unnest(
        |           [array_to_string(s[i:i+12], ' ') FOR i IN range(1, len(s)-11)]) AS g
        |         FROM (SELECT string_split(text, ' ') AS s FROM sp WHERE split = 'test')),
        |  hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_ngrams
        |           FROM tg JOIN ev USING (g) GROUP BY doc_id)
        |SELECT t.doc_id,
        |       coalesce(h.n_eval_ngrams, 0) AS n_eval_ngrams,
        |       coalesce(h.n_eval_ngrams, 0) > 0 AS contaminated
        |FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id""".stripMargin,

    "x21_mix_sample" ->
      """SELECT doc_id, lang
        |FROM (SELECT doc_id, lang,
        |        ('0x' || substr(md5(text || 'mix-v1'), 1, 8))::BIGINT % 10000 AS b
        |      FROM documents)
        |WHERE (lang = 'en' AND b * 1 < 1 * 10000)
        |   OR (lang = 'zh' AND b * 2 < 1 * 10000)
        |   OR (lang = 'es' AND b * 4 < 1 * 10000)
        |   OR (lang = 'de' AND b * 4 < 3 * 10000)""".stripMargin,

    "x22_pack" ->
      """SELECT doc_id, shard, n_tokens,
        |       CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_idx
        |FROM (SELECT doc_id, shard, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                            ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM (SELECT doc_id,
        |              ('0x' || substr(md5(text || 'pack-v1'), 1, 8))::BIGINT % 32 AS shard,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |            FROM documents))""".stripMargin,

    "x17_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |              ELSE 'video' END AS kind,
        |         hex(encode(text)) AS ph,
        |         greatest(octet_length(encode(text)) // 4, 1) AS step
        |  FROM documents)
        |SELECT doc_id, kind, CAST(i AS INT) AS frame_idx,
        |       CAST(length(substr(ph, 2*i*step + 1, 32)) // 2 AS INT) AS frame_bytes,
        |       lower(substr(ph, 2*i*step + 1, 32)) AS frame_hex
        |FROM m, range(0, 4) t(i)""".stripMargin,

    "x11_multimodal_meta" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       CAST(64 + (doc_id % 8) * 16 AS INT) AS width,
        |       CAST(48 + (doc_id % 5) * 16 AS INT) AS height,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       md5(text) AS payload_md5
        |FROM documents""".stripMargin,

    // Matryoshka truncation audit: the x3 brute-force construction run
    // TWICE (full dims; first-16 prefix via inclusive list slicing
    // [1:16]) and intersected — rank-only on both engines, identical
    // zero-norm exclusion, (cos DESC, vec_id) tie-break.
    "x174_matryoshka_recall" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |     sf_ AS (SELECT query_id, vec_id,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id
        |             AND list_dot_product(qv, qv) > 0 AND list_dot_product(v, v) > 0),
        |     ft AS (SELECT query_id, vec_id FROM (
        |             SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |                    ORDER BY cos DESC, vec_id) AS rn FROM sf_) WHERE rn <= 10),
        |     sp_ AS (SELECT query_id, vec_id,
        |                  list_dot_product(qv[1:16], v[1:16]) /
        |                    (sqrt(list_dot_product(qv[1:16], qv[1:16])) *
        |                     sqrt(list_dot_product(v[1:16], v[1:16]))) AS cos
        |           FROM q, c WHERE vec_id <> query_id
        |             AND list_dot_product(qv[1:16], qv[1:16]) > 0
        |             AND list_dot_product(v[1:16], v[1:16]) > 0),
        |     pt AS (SELECT query_id, vec_id FROM (
        |             SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |                    ORDER BY cos DESC, vec_id) AS rn FROM sp_) WHERE rn <= 10),
        |     ov AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap
        |            FROM ft JOIN pt USING (query_id, vec_id) GROUP BY query_id),
        |     nf AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_full
        |            FROM ft GROUP BY query_id),
        |     np AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_prefix
        |            FROM pt GROUP BY query_id)
        |SELECT nf.query_id, n_full,
        |       CAST(coalesce(n_prefix, 0) AS BIGINT) AS n_prefix,
        |       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
        |       CAST(1000000 * coalesce(n_overlap, 0) // n_full AS BIGINT) AS recall_ppm
        |FROM nf LEFT JOIN np USING (query_id) LEFT JOIN ov USING (query_id)""".stripMargin,

    // Sparse tf-idf cosine top-k: identical inverted-index
    // construction — x50 idf proxy weights, HUGEINT square sums, the
    // x141 staged squared-cosine division (num >= 0, no sign leg).
    "x175_sparse_topk" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |     tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
        |             FROM documents),
        |     tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |            FROM tok WHERE len(token) > 0 GROUP BY 1, 2),
        |     idf AS (SELECT token,
        |                    CAST((1000000 * n_docs) // CAST(count(*) AS BIGINT) AS BIGINT) AS idf
        |             FROM tf, nd GROUP BY token, n_docs),
        |     w AS (SELECT doc_id, token, tf * idf AS w FROM tf JOIN idf USING (token)),
        |     den AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS den
        |             FROM w GROUP BY doc_id),
        |     qw AS (SELECT doc_id AS query_id, token, w AS wq
        |            FROM w WHERE doc_id % 250 = 0),
        |     num AS (SELECT query_id, w.doc_id, sum(CAST(wq AS HUGEINT) * w.w) AS num
        |             FROM qw JOIN w ON qw.token = w.token AND w.doc_id <> qw.query_id
        |             GROUP BY 1, 2),
        |     s AS (SELECT query_id, num.doc_id,
        |                  CAST(((1000000 * num) // greatest(dq.den, dd.den))
        |                       * num // least(dq.den, dd.den) AS BIGINT) AS score_ppm
        |           FROM num JOIN den dq ON dq.doc_id = query_id
        |                    JOIN den dd ON dd.doc_id = num.doc_id)
        |SELECT query_id, doc_id, "rank", score_ppm FROM (
        |  SELECT query_id, doc_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score_ppm DESC, doc_id) AS INT) AS "rank",
        |         score_ppm
        |  FROM s) WHERE "rank" <= 5""".stripMargin,

    // Markov next-event backtest: same data-derived split (the
    // subtraction keeps the // operand non-negative — flooring equals
    // Spark's truncation), same argmax total order.
    "x176_markov_backtest" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |            FROM events WHERE ts IS NOT NULL),
        |     tr0 AS (SELECT event_type AS prev_type,
        |                    lead(event_type) OVER (PARTITION BY user_id
        |                         ORDER BY us, event_id) AS next_type,
        |                    us
        |             FROM ev),
        |     tr AS (SELECT * FROM tr0 WHERE next_type IS NOT NULL),
        |     sp AS (SELECT min(us) + (max(us) - min(us)) // 2 AS split_us FROM ev),
        |     train AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |               FROM tr, sp WHERE us <= split_us GROUP BY 1, 2),
        |     model AS (SELECT prev_type, next_type AS predicted_next,
        |                      CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_train,
        |                      row_number() OVER (PARTITION BY prev_type
        |                           ORDER BY n DESC, next_type) AS rn
        |               FROM train),
        |     m1 AS (SELECT prev_type, predicted_next, n_train FROM model WHERE rn = 1),
        |     ev2 AS (SELECT tr.* FROM tr, sp WHERE us > split_us)
        |SELECT e.prev_type,
        |       max(m.predicted_next) AS predicted_next,
        |       CAST(coalesce(max(m.n_train), 0) AS BIGINT) AS n_train,
        |       CAST(count(*) AS BIGINT) AS n_eval,
        |       CAST(count(*) FILTER (e.next_type = m.predicted_next) AS BIGINT) AS n_correct,
        |       CAST(1000000 * count(*) FILTER (e.next_type = m.predicted_next)
        |            // count(*) AS BIGINT) AS acc_ppm
        |FROM ev2 e LEFT JOIN m1 m USING (prev_type)
        |GROUP BY e.prev_type""".stripMargin,

    // Fleiss' kappa over the three x137-style proxy raters; one
    // division for chance agreement (sum of squared category totals),
    // x128 sign-decomposed kappa.
    "x177_fleiss_kappa" ->
      """WITH e AS (SELECT vec_id,
        |                  CAST(label % 2 AS INT) AS r0,
        |                  CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END AS r1,
        |                  CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END AS r2
        |           FROM embeddings
        |           WHERE label IS NOT NULL AND len(embedding) >= 2),
        |     lng AS (SELECT vec_id, unnest([r0, r1, r2]) AS rating FROM e),
        |     nij AS (SELECT vec_id, rating, CAST(count(*) AS BIGINT) AS nij
        |             FROM lng GROUP BY 1, 2),
        |     pi AS (SELECT vec_id, sum(nij * nij) AS sq FROM nij GROUP BY vec_id),
        |     a1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |                   CAST(coalesce(sum(sq), 0) AS HUGEINT) AS sqsum FROM pi),
        |     a2 AS (SELECT coalesce(sum(CAST(c_j AS HUGEINT) * c_j), 0) AS csq
        |            FROM (SELECT rating, CAST(sum(nij) AS BIGINT) AS c_j
        |                  FROM nij GROUP BY rating)),
        |     f AS (SELECT n,
        |                  CASE WHEN n = 0 THEN 0
        |                       ELSE CAST(1000000 * (sqsum - n * 3) // (n * 3 * 2) AS BIGINT)
        |                  END AS po_ppm,
        |                  CASE WHEN n = 0 THEN 0
        |                       ELSE CAST(1000000 * csq
        |                            // (CAST(n AS HUGEINT) * 3 * n * 3) AS BIGINT)
        |                  END AS pe_ppm
        |           FROM a1, a2)
        |SELECT n AS n_items, 3 AS m_raters, po_ppm, pe_ppm,
        |       CAST(CASE WHEN pe_ppm >= 1000000 THEN 0
        |                 WHEN po_ppm >= pe_ppm
        |                 THEN 1000000 * (po_ppm - pe_ppm) // (1000000 - pe_ppm)
        |                 ELSE -(1000000 * (pe_ppm - po_ppm) // (1000000 - pe_ppm))
        |            END AS BIGINT) AS kappa_ppm
        |FROM f""".stripMargin,

    // Negative sampling: identical salted md5-32 probe construction
    // (probe -> DENSE RANK of the item dimension mod n_items, min-hash
    // dedup, anti-join, (h, item) rank). The rank mapping makes sparse
    // or offset id spaces sample exactly like dense ones.
    "x182_negative_sampling" ->
      """WITH items AS (SELECT DISTINCT p_partkey AS item_id FROM part),
        |     idx AS (SELECT item_id,
        |                    row_number() OVER (ORDER BY item_id) - 1 AS item_idx
        |             FROM items),
        |     n AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM items),
        |     inter AS (SELECT DISTINCT o_custkey AS user_id,
        |                      l_partkey AS item_id
        |               FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |     probes AS (SELECT user_id, i,
        |                       ('0x' || substr(md5('neg7|' || user_id || '|' || i),
        |                                       1, 8))::BIGINT AS h
        |                FROM (SELECT DISTINCT user_id FROM inter), range(0, 15) t(i)),
        |     cand AS (SELECT user_id, item_id, min(h) AS h
        |              FROM (SELECT user_id, h % n_items AS item_idx, h
        |                    FROM probes, n) c
        |              JOIN idx USING (item_idx)
        |              GROUP BY 1, 2),
        |     neg AS (SELECT cand.user_id, cand.item_id, cand.h
        |             FROM cand ANTI JOIN inter
        |               USING (user_id, item_id))
        |SELECT user_id, item_id,
        |       CAST(row_number() OVER (PARTITION BY user_id
        |            ORDER BY h, item_id) AS INT) AS neg_rank
        |FROM neg QUALIFY neg_rank <= 5""".stripMargin,

    // Period contribution: one conditional-aggregate pass over the
    // joined fact, same data-derived split and cents idiom.
    "x183_period_contribution" ->
      """WITH f AS (SELECT c_mktsegment AS segment,
        |                  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS us,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |           FROM orders JOIN customer ON c_custkey = o_custkey
        |           WHERE o_orderdate IS NOT NULL),
        |     sp AS (SELECT min(us) + (max(us) - min(us)) // 2 AS split_us FROM f)
        |SELECT segment,
        |       CAST(count(*) FILTER (us <= split_us) AS BIGINT) AS n_p1,
        |       CAST(count(*) FILTER (us > split_us) AS BIGINT) AS n_p2,
        |       CAST(coalesce(sum(cents) FILTER (us <= split_us), 0) AS BIGINT) AS cents_p1,
        |       CAST(coalesce(sum(cents) FILTER (us > split_us), 0) AS BIGINT) AS cents_p2,
        |       CAST(coalesce(sum(cents) FILTER (us > split_us), 0)
        |            - coalesce(sum(cents) FILTER (us <= split_us), 0)
        |            AS BIGINT) AS delta_cents
        |FROM f, sp GROUP BY segment""".stripMargin,

    // User-user CF neighbors: the same inverted-index construction in
    // SQL — distinct (user, item), per-item self-join u1 < u2, mirror,
    // exact Jaccard ppm, top-5 window under (jppm DESC, neighbor).
    "x184_cf_jaccard" ->
      """WITH ui AS (SELECT DISTINCT o_custkey AS user_id,
        |                            l_partkey AS item_id
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |            WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL),
        |     sz AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |            FROM ui GROUP BY user_id),
        |     pr AS (SELECT a.user_id AS u1, b.user_id AS u2,
        |                   CAST(count(*) AS BIGINT) AS inter
        |            FROM ui a JOIN ui b USING (item_id)
        |            WHERE a.user_id < b.user_id
        |            GROUP BY 1, 2),
        |     bo AS (SELECT u1, u2, inter FROM pr
        |            UNION ALL SELECT u2, u1, inter FROM pr),
        |     j AS (SELECT u1, u2, inter,
        |                  1000000 * inter // (s1.n + s2.n - inter) AS jppm
        |           FROM bo JOIN sz s1 ON s1.user_id = u1
        |                   JOIN sz s2 ON s2.user_id = u2)
        |SELECT user_id, neighbor_id, inter, jppm, "rank" FROM (
        |  SELECT u1 AS user_id, u2 AS neighbor_id, inter, jppm,
        |         CAST(row_number() OVER (PARTITION BY u1
        |              ORDER BY jppm DESC, u2) AS INT) AS "rank"
        |  FROM j) WHERE "rank" <= 5""".stripMargin,

    // Capped CF neighbors: the x184 chain with the planted head item
    // (-777 on every buyer) removed by the SAME df>500 ceiling the
    // Spark knob applies — drop + exact-on-filtered in one hash.
    "x246_capped_neighbors" ->
      """WITH ui0 AS (SELECT DISTINCT o_custkey AS user_id,
        |                             l_partkey AS item_id
        |             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |             WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL
        |             UNION ALL
        |             SELECT DISTINCT o_custkey, -777
        |             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |             WHERE o_custkey IS NOT NULL),
        |     hdf AS (SELECT item_id
        |             FROM (SELECT item_id, count(*) AS c FROM ui0 GROUP BY 1)
        |             WHERE c > 500),
        |     ui AS (SELECT * FROM ui0
        |            WHERE item_id NOT IN (SELECT item_id FROM hdf)),
        |     sz AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |            FROM ui GROUP BY user_id),
        |     pr AS (SELECT a.user_id AS u1, b.user_id AS u2,
        |                   CAST(count(*) AS BIGINT) AS inter
        |            FROM ui a JOIN ui b USING (item_id)
        |            WHERE a.user_id < b.user_id
        |            GROUP BY 1, 2),
        |     bo AS (SELECT u1, u2, inter FROM pr
        |            UNION ALL SELECT u2, u1, inter FROM pr),
        |     j AS (SELECT u1, u2, inter,
        |                  1000000 * inter // (s1.n + s2.n - inter) AS jppm
        |           FROM bo JOIN sz s1 ON s1.user_id = u1
        |                   JOIN sz s2 ON s2.user_id = u2)
        |SELECT user_id, neighbor_id, inter, jppm, "rank" FROM (
        |  SELECT u1 AS user_id, u2 AS neighbor_id, inter, jppm,
        |         CAST(row_number() OVER (PARTITION BY u1
        |              ORDER BY jppm DESC, u2) AS INT) AS "rank"
        |  FROM j) WHERE "rank" <= 5""".stripMargin,

    // The stop-term drop report: tokens above the proportional 78%
    // document-frequency ceiling, df and df² fan-out.
    "x247_head_terms" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |     tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
        |             FROM documents),
        |     tf AS (SELECT doc_id, token FROM tok
        |            WHERE len(token) > 0 GROUP BY 1, 2),
        |     df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |            FROM tf GROUP BY 1)
        |SELECT token, df, df * df AS posting_pairs_avoided
        |FROM df, nd WHERE df > n_docs * 39 // 50""".stripMargin,

    // Capped sparse retrieval: the x175 chain with terms above the
    // proportional ceiling removed from the token stream (n_docs
    // UNCHANGED — dropping terms does not drop documents).
    "x248_capped_sparse" ->
      """WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |     tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
        |             FROM documents),
        |     tf0 AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |             FROM tok WHERE len(token) > 0 GROUP BY 1, 2),
        |     hdf AS (SELECT token
        |             FROM (SELECT token, CAST(count(*) AS BIGINT) AS c
        |                   FROM tf0 GROUP BY 1), nd
        |             WHERE c > n_docs * 39 // 50),
        |     tf AS (SELECT * FROM tf0
        |            WHERE token NOT IN (SELECT token FROM hdf)),
        |     idf AS (SELECT token,
        |                    CAST((1000000 * n_docs) // CAST(count(*) AS BIGINT) AS BIGINT) AS idf
        |             FROM tf, nd GROUP BY token, n_docs),
        |     w AS (SELECT doc_id, token, tf * idf AS w FROM tf JOIN idf USING (token)),
        |     den AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS den
        |             FROM w GROUP BY doc_id),
        |     qw AS (SELECT doc_id AS query_id, token, w AS wq
        |            FROM w WHERE doc_id % 250 = 0),
        |     num AS (SELECT query_id, w.doc_id, sum(CAST(wq AS HUGEINT) * w.w) AS num
        |             FROM qw JOIN w ON qw.token = w.token AND w.doc_id <> qw.query_id
        |             GROUP BY 1, 2),
        |     s AS (SELECT query_id, num.doc_id,
        |                  CAST(((1000000 * num) // greatest(dq.den, dd.den))
        |                       * num // least(dq.den, dd.den) AS BIGINT) AS score_ppm
        |           FROM num JOIN den dq ON dq.doc_id = query_id
        |                    JOIN den dd ON dd.doc_id = num.doc_id)
        |SELECT query_id, doc_id, "rank", score_ppm FROM (
        |  SELECT query_id, doc_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score_ppm DESC, doc_id) AS INT) AS "rank",
        |         score_ppm
        |  FROM s) WHERE "rank" <= 5""".stripMargin,

    // Capped BM25: the x189 chain over the df-capped token stream —
    // dl, totals and idf all reflect the FILTERED stream (drop a
    // term, its occurrences leave the doc-length model too).
    "x249_capped_bm25" ->
      """WITH tf0 AS MATERIALIZED (
        |  SELECT doc_id, w AS token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |               unnest(string_split(COALESCE(text, ''), ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0 GROUP BY doc_id, w),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |hdf AS (SELECT token
        |        FROM (SELECT token, CAST(count(*) AS BIGINT) AS c
        |              FROM tf0 GROUP BY 1), nd
        |        WHERE c > n * 39 // 50),
        |tf AS MATERIALIZED (SELECT * FROM tf0
        |      WHERE token NOT IN (SELECT token FROM hdf)),
        |tot AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS a FROM tf),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY doc_id),
        |idf AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY token),
        |qt AS (SELECT doc_id AS query_id, token FROM tf
        |       WHERE doc_id % 250 = 0),
        |co AS (SELECT q.query_id, t.doc_id,
        |         (CAST((1000000 * nd.n) // i.df AS HUGEINT)
        |            * t.tf * 22 * tot.a) //
        |         (CAST(10 AS HUGEINT) * tot.a * t.tf
        |            + CAST(3 AS HUGEINT) * tot.a
        |            + CAST(9 AS HUGEINT) * d.dl * nd.n) AS c
        |       FROM tf t JOIN qt q USING (token)
        |            JOIN idf i USING (token)
        |            JOIN dl d ON d.doc_id = t.doc_id
        |            CROSS JOIN tot CROSS JOIN nd
        |       WHERE t.doc_id <> q.query_id),
        |sc AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score
        |       FROM co GROUP BY 1, 2)
        |SELECT query_id, doc_id, "rank", score FROM (
        |  SELECT query_id, doc_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, doc_id) AS INT) AS "rank"
        |  FROM sc) WHERE "rank" <= 5""".stripMargin,

    // Incremental rollup merge: the oracle aggregates the WHOLE frame
    // in one pass — equality with the Spark side's stored+batch
    // partial-state merge IS the merge-identity proof.
    "x185_rollup_merge" ->
      """WITH r AS (SELECT event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |           FROM events WHERE ts IS NOT NULL)
        |SELECT us // 86400000000 AS day, event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents,
        |       CAST(min(cents) AS BIGINT) AS min_cents,
        |       CAST(max(cents) AS BIGINT) AS max_cents
        |FROM r GROUP BY 1, 2""".stripMargin,

    // NB held-out AUC: the x57 model chain (train on the EVEN half's
    // gopher labels), scores restricted to the ODD half, true odd
    // labels re-derived, then the PER-ROW doubled tie-averaged rank
    // formula — the cross-construction partner of the Spark side's
    // histogram-decomposed Mann-Whitney.
    // Confusion at p >= 0.5: the x186 NB pipeline verbatim through
    // the held-out score; exact counts, P/R/F1 in ppm.
    "x271_confusion" ->
      """WITH p0 AS (SELECT doc_id,
        |             CASE WHEN doc_id % 17 = 0 THEN replace(text, ' ', '')
        |                  WHEN doc_id % 13 = 0 THEN text || ' !!! ### $$$'
        |                  ELSE text END AS text
        |           FROM documents),
        |  p AS (SELECT doc_id, COALESCE(text, '') AS text FROM p0),
        |  m AS (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |          length(replace(text, ' ', '')) AS n_alpha,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |        FROM p),
        |  lab0 AS (SELECT doc_id,
        |          ((n_words >= 50 AND n_words <= 100000)
        |           AND ((CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) >= 3.0
        |            AND (CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) <= 10.0)
        |           AND (CASE WHEN n_words = 0 THEN 0.0
        |                ELSE CAST(n_sym AS DOUBLE) / n_words END) <= 0.1
        |           AND n_stop >= 2) AS passes
        |        FROM m),
        |  lab AS (SELECT doc_id, passes FROM lab0 WHERE doc_id % 2 = 0),
        |  tok AS (SELECT doc_id, w FROM (
        |            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM p)
        |          WHERE length(w) > 0),
        |  cnt AS (SELECT w,
        |            CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS c_g,
        |            CAST(sum(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |          FROM tok t JOIN lab l USING (doc_id) GROUP BY w),
        |  tots AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
        |                  CAST(sum(c_b) AS BIGINT) AS n_b,
        |                  CAST(count(*) AS BIGINT) AS v
        |           FROM cnt),
        |  model AS (SELECT w,
        |              (1000000::HUGEINT * (tots.n_b + tots.v) * (c_g + 1)) //
        |              ((tots.n_g + tots.v)::HUGEINT * (c_b + 1)) AS r_ppm
        |            FROM cnt CROSS JOIN tots),
        |  r0 AS (SELECT (1000000::HUGEINT * (n_b + v)) // (n_g + v) AS r FROM tots),
        |  sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |           sum(COALESCE(mo.r_ppm, r0.r)) AS tot
        |         FROM tok t LEFT JOIN model mo USING (w) CROSS JOIN r0
        |         WHERE t.doc_id % 2 <> 0
        |         GROUP BY t.doc_id),
        |  score AS (SELECT d.doc_id,
        |              CAST(COALESCE(s.tot // s.n_tokens, 0) AS BIGINT) AS v
        |            FROM p d LEFT JOIN sc s USING (doc_id)
        |            WHERE d.doc_id % 2 <> 0),
        |  f AS (SELECT CAST(1000000::HUGEINT * s.v // (s.v + 1000000)
        |             AS BIGINT) AS fp_ppm,
        |           l.passes
        |        FROM score s JOIN lab0 l USING (doc_id)),
        |  cmx AS (SELECT
        |      CAST(count(*) FILTER (fp_ppm >= 500000 AND passes)
        |        AS BIGINT) AS tp,
        |      CAST(count(*) FILTER (fp_ppm >= 500000 AND NOT passes)
        |        AS BIGINT) AS fp,
        |      CAST(count(*) FILTER (fp_ppm < 500000 AND passes)
        |        AS BIGINT) AS fn,
        |      CAST(count(*) FILTER (fp_ppm < 500000 AND NOT passes)
        |        AS BIGINT) AS tn
        |    FROM f)
        |SELECT tp, fp, fn, tn,
        |       CASE WHEN tp + fp > 0
        |            THEN CAST(1000000 * tp // (tp + fp) AS BIGINT)
        |            ELSE 0 END AS precision_ppm,
        |       CASE WHEN tp + fn > 0
        |            THEN CAST(1000000 * tp // (tp + fn) AS BIGINT)
        |            ELSE 0 END AS recall_ppm,
        |       CASE WHEN 2 * tp + fp + fn > 0
        |            THEN CAST(2000000 * tp // (2 * tp + fp + fn) AS BIGINT)
        |            ELSE 0 END AS f1_ppm
        |FROM cmx""".stripMargin,

    // Cumulative gains: native ntile DESC over the identical
    // (forecast desc, doc_id) total order; prefix capture + staged
    // lift with HUGEINT products.
    "x272_gains" ->
      """WITH p0 AS (SELECT doc_id,
        |             CASE WHEN doc_id % 17 = 0 THEN replace(text, ' ', '')
        |                  WHEN doc_id % 13 = 0 THEN text || ' !!! ### $$$'
        |                  ELSE text END AS text
        |           FROM documents),
        |  p AS (SELECT doc_id, COALESCE(text, '') AS text FROM p0),
        |  m AS (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |          length(replace(text, ' ', '')) AS n_alpha,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |        FROM p),
        |  lab0 AS (SELECT doc_id,
        |          ((n_words >= 50 AND n_words <= 100000)
        |           AND ((CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) >= 3.0
        |            AND (CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) <= 10.0)
        |           AND (CASE WHEN n_words = 0 THEN 0.0
        |                ELSE CAST(n_sym AS DOUBLE) / n_words END) <= 0.1
        |           AND n_stop >= 2) AS passes
        |        FROM m),
        |  lab AS (SELECT doc_id, passes FROM lab0 WHERE doc_id % 2 = 0),
        |  tok AS (SELECT doc_id, w FROM (
        |            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM p)
        |          WHERE length(w) > 0),
        |  cnt AS (SELECT w,
        |            CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS c_g,
        |            CAST(sum(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |          FROM tok t JOIN lab l USING (doc_id) GROUP BY w),
        |  tots AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
        |                  CAST(sum(c_b) AS BIGINT) AS n_b,
        |                  CAST(count(*) AS BIGINT) AS v
        |           FROM cnt),
        |  model AS (SELECT w,
        |              (1000000::HUGEINT * (tots.n_b + tots.v) * (c_g + 1)) //
        |              ((tots.n_g + tots.v)::HUGEINT * (c_b + 1)) AS r_ppm
        |            FROM cnt CROSS JOIN tots),
        |  r0 AS (SELECT (1000000::HUGEINT * (n_b + v)) // (n_g + v) AS r FROM tots),
        |  sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |           sum(COALESCE(mo.r_ppm, r0.r)) AS tot
        |         FROM tok t LEFT JOIN model mo USING (w) CROSS JOIN r0
        |         WHERE t.doc_id % 2 <> 0
        |         GROUP BY t.doc_id),
        |  score AS (SELECT d.doc_id,
        |              CAST(COALESCE(s.tot // s.n_tokens, 0) AS BIGINT) AS v
        |            FROM p d LEFT JOIN sc s USING (doc_id)
        |            WHERE d.doc_id % 2 <> 0),
        |  f AS (SELECT s.doc_id,
        |           CAST(1000000::HUGEINT * s.v // (s.v + 1000000)
        |             AS BIGINT) AS fp_ppm,
        |           l.passes
        |        FROM score s JOIN lab0 l USING (doc_id)),
        |  b AS (SELECT fp_ppm, passes,
        |          CAST(ntile(10) OVER (ORDER BY fp_ppm DESC, doc_id)
        |            AS BIGINT) AS decile
        |        FROM f),
        |  bb AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
        |           CAST(count(*) FILTER (passes) AS BIGINT) AS pos
        |         FROM b GROUP BY 1),
        |  cum AS (SELECT decile, n, pos,
        |            CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
        |            CAST(sum(pos) OVER (ORDER BY decile) AS BIGINT)
        |              AS cum_pos
        |          FROM bb),
        |  tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot_n,
        |            CAST(sum(pos) AS BIGINT) AS tot_pos
        |          FROM bb)
        |SELECT decile, n, pos, cum_n, cum_pos,
        |       CASE WHEN tot_pos > 0
        |            THEN CAST(1000000 * cum_pos // tot_pos AS BIGINT)
        |            ELSE 0 END AS capture_ppm,
        |       CASE WHEN tot_pos > 0
        |            THEN CAST(CAST(1000000 AS HUGEINT) * cum_pos * tot_n //
        |                 (CAST(cum_n AS HUGEINT) * tot_pos) AS BIGINT)
        |            ELSE 0 END AS lift_ppm
        |FROM cum CROSS JOIN tot""".stripMargin,

    // Mann-Kendall: dense zero-filled grid, day-pair self-join,
    // integer sign sums — the x222 grid idiom with i < j pairs.
    "x273_mann_kendall" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |  span AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |  grid AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span),
        |  ty AS (SELECT DISTINCT event_type FROM dc),
        |  s AS (SELECT ty.event_type, g.day, coalesce(dc.c, 0) AS c
        |        FROM grid g CROSS JOIN ty
        |        LEFT JOIN dc ON dc.event_type = ty.event_type
        |                    AND dc.day = g.day),
        |  pr AS (SELECT a.event_type,
        |           CAST(sum(CASE WHEN b.c > a.c THEN 1
        |                         WHEN b.c < a.c THEN -1 ELSE 0 END)
        |             AS BIGINT) AS s_stat,
        |           CAST(count(*) FILTER (b.c > a.c) AS BIGINT) AS n_concordant,
        |           CAST(count(*) FILTER (b.c < a.c) AS BIGINT) AS n_discordant,
        |           CAST(count(*) FILTER (b.c = a.c) AS BIGINT) AS n_tied
        |         FROM s a JOIN s b ON a.event_type = b.event_type
        |                          AND a.day < b.day
        |         GROUP BY 1)
        |SELECT ty.event_type,
        |       CAST(sp.d1 - sp.d0 + 1 AS BIGINT) AS n_days,
        |       coalesce(pr.s_stat, 0) AS s_stat,
        |       coalesce(pr.n_concordant, 0) AS n_concordant,
        |       coalesce(pr.n_discordant, 0) AS n_discordant,
        |       coalesce(pr.n_tied, 0) AS n_tied
        |FROM ty CROSS JOIN span sp
        |LEFT JOIN pr ON pr.event_type = ty.event_type""".stripMargin,

    // Cross-split leakage: the x18 exact-Jaccard pair construction
    // verbatim, each side joined to the x20 split CASE, rolled up to
    // (split_a, split_b) cells with the cross flag.
    "x274_split_leakage" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT i.a_id, i.b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  sp AS (SELECT doc_id,
         |           CASE WHEN b < 900 THEN 'train'
         |                WHEN b < 950 THEN 'val'
         |                ELSE 'test' END AS split
         |         FROM (SELECT doc_id,
         |                 ('0x' || substr(md5(text || 'split-v1'), 1, 8))::BIGINT % 1000 AS b
         |               FROM documents))
         |SELECT sa.split AS split_a, sb.split AS split_b,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       sa.split != sb.split AS is_cross
         |FROM pairs p
         |JOIN sp sa ON sa.doc_id = p.a_id
         |JOIN sp sb ON sb.doc_id = p.b_id
         |GROUP BY 1, 2, 4""".stripMargin,

    // N-gram novelty of the %50 batch vs the standing corpus: distinct
    // batch shingles probed against the corpus's distinct shingle set
    // (gram strings here, 64-bit hashes Spark-side — the x18/x35
    // collision caveat).
    "x275_ngram_novelty" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  corp AS (SELECT DISTINCT g FROM ex WHERE doc_id % 50 != 0),
         |  b AS (SELECT e.doc_id,
         |          CAST(count(*) AS BIGINT) AS n_shingles,
         |          CAST(count(*) FILTER (c.g IS NULL) AS BIGINT) AS n_new
         |        FROM ex e LEFT JOIN corp c ON e.g = c.g
         |        WHERE e.doc_id % 50 = 0
         |        GROUP BY 1)
         |SELECT doc_id, n_shingles, n_new,
         |       1000000 * n_new // n_shingles AS novelty_ppm
         |FROM b""".stripMargin,

    // PII scan: the plant CASEs + one UNION leg per registry pattern,
    // all GENERATED from TextStats.PiiPatterns (single source of truth).
    // The %23 email plant is deliberately MIXED-CASE: it only counts
    // because both engines scan lower(text) — the case-robustness proof.
    "x277_pii_scan" -> {
      // ONE line: the enclosing stripMargin must never see a line that
      // starts with the first bar of a SQL || concatenation
      val plant = "COALESCE(text, '')" +
        " || CASE WHEN doc_id % 23 = 0 THEN ' contact A.User@EXAMPLE.COM now' ELSE '' END" +
        " || CASE WHEN doc_id % 29 = 0 THEN ' call 555-867-5309 soon' ELSE '' END" +
        " || CASE WHEN doc_id % 31 = 0 THEN ' from 192.168.10.42 gateway' ELSE '' END"
      val legs = graft.ext.TextStats.PiiPatterns.map { case (n, p) =>
        s"SELECT source, '$n' AS pii_type, " +
          s"len(regexp_extract_all(lower(text), '$p')) AS c FROM p"
      }.mkString("\n        UNION ALL ")
      s"""WITH p AS (SELECT source, $plant AS text FROM documents),
         |  c AS ($legs)
         |SELECT source, pii_type,
         |       CAST(count(*) FILTER (c > 0) AS BIGINT) AS n_docs,
         |       CAST(sum(c) AS BIGINT) AS n_hits
         |FROM c GROUP BY 1, 2""".stripMargin
    },

    // Within-doc repetition over ALL 3-gram windows (raw string_split,
    // the x35 window idiom — word_ngrams_all mirrors raw split
    // semantics including empty tokens).
    "x276_repetition_ratio" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS s
        |           FROM documents WHERE text IS NOT NULL),
        |  w AS (SELECT doc_id,
        |          [s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |           FOR i IN range(1, len(s) - 1)] AS win
        |        FROM t)
        |SELECT doc_id,
        |       CAST(len(win) AS BIGINT) AS n_windows,
        |       CAST(len(list_distinct(win)) AS BIGINT) AS n_distinct,
        |       1000000 * (len(win) - len(list_distinct(win))) // len(win)
        |         AS repetition_ppm
        |FROM w WHERE len(win) >= 1""".stripMargin,

    // Expected calibration error: the x269 NB chain verbatim through
    // the b2 bin table (FIFTH clone of the x186 oracle prefix — edits
    // to the NB pipeline must touch all five in lockstep), then the
    // single weighted-|gap| division + the max-bin gap.
    "x278_ece" ->
      """WITH p0 AS (SELECT doc_id,
        |             CASE WHEN doc_id % 17 = 0 THEN replace(text, ' ', '')
        |                  WHEN doc_id % 13 = 0 THEN text || ' !!! ### $$$'
        |                  ELSE text END AS text
        |           FROM documents),
        |  p AS (SELECT doc_id, COALESCE(text, '') AS text FROM p0),
        |  m AS (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |          length(replace(text, ' ', '')) AS n_alpha,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |        FROM p),
        |  lab0 AS (SELECT doc_id,
        |          ((n_words >= 50 AND n_words <= 100000)
        |           AND ((CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) >= 3.0
        |            AND (CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) <= 10.0)
        |           AND (CASE WHEN n_words = 0 THEN 0.0
        |                ELSE CAST(n_sym AS DOUBLE) / n_words END) <= 0.1
        |           AND n_stop >= 2) AS passes
        |        FROM m),
        |  lab AS (SELECT doc_id, passes FROM lab0 WHERE doc_id % 2 = 0),
        |  tok AS (SELECT doc_id, w FROM (
        |            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM p)
        |          WHERE length(w) > 0),
        |  cnt AS (SELECT w,
        |            CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS c_g,
        |            CAST(sum(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |          FROM tok t JOIN lab l USING (doc_id) GROUP BY w),
        |  tots AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
        |                  CAST(sum(c_b) AS BIGINT) AS n_b,
        |                  CAST(count(*) AS BIGINT) AS v
        |           FROM cnt),
        |  model AS (SELECT w,
        |              (1000000::HUGEINT * (tots.n_b + tots.v) * (c_g + 1)) //
        |              ((tots.n_g + tots.v)::HUGEINT * (c_b + 1)) AS r_ppm
        |            FROM cnt CROSS JOIN tots),
        |  r0 AS (SELECT (1000000::HUGEINT * (n_b + v)) // (n_g + v) AS r FROM tots),
        |  sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |           sum(COALESCE(mo.r_ppm, r0.r)) AS tot
        |         FROM tok t LEFT JOIN model mo USING (w) CROSS JOIN r0
        |         WHERE t.doc_id % 2 <> 0
        |         GROUP BY t.doc_id),
        |  score AS (SELECT d.doc_id,
        |              CAST(COALESCE(s.tot // s.n_tokens, 0) AS BIGINT) AS v
        |            FROM p d LEFT JOIN sc s USING (doc_id)
        |            WHERE d.doc_id % 2 <> 0),
        |  f AS (SELECT s.doc_id,
        |           CAST(1000000::HUGEINT * s.v // (s.v + 1000000) AS BIGINT)
        |             AS fp,
        |           l.passes
        |        FROM score s JOIN lab0 l USING (doc_id)),
        |  b AS (SELECT fp, passes,
        |          CAST(ntile(10) OVER (ORDER BY fp, doc_id) AS BIGINT)
        |            AS bucket
        |        FROM f),
        |  bb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nb,
        |           CAST(count(*) FILTER (passes) AS BIGINT) AS pos_b,
        |           CAST(sum(fp) AS BIGINT) AS f_sum
        |         FROM b GROUP BY 1),
        |  b2 AS (SELECT nb, pos_b, f_sum // nb AS f_b,
        |           1000000 * pos_b // nb AS o_b
        |         FROM bb),
        |  t AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
        |          CAST(sum(pos_b) AS BIGINT) AS np
        |        FROM b2)
        |SELECT t.n, t.np AS n_pos,
        |       CAST(sum(CAST(nb AS HUGEINT) * abs(f_b - o_b)) // t.n
        |         AS BIGINT) AS ece_ppm,
        |       CAST(max(abs(f_b - o_b)) AS BIGINT) AS mce_ppm
        |FROM b2 CROSS JOIN t
        |GROUP BY 1, 2""".stripMargin,

    // Brier/Murphy decomposition: the x186 NB pipeline verbatim
    // through the held-out score, forecast p = r/(r+1e6) in ppm,
    // native ntile(10) over the identical (fp, doc_id) total order
    // as the independent binning construction (the x138 convention).
    "x269_brier" ->
      """WITH p0 AS (SELECT doc_id,
        |             CASE WHEN doc_id % 17 = 0 THEN replace(text, ' ', '')
        |                  WHEN doc_id % 13 = 0 THEN text || ' !!! ### $$$'
        |                  ELSE text END AS text
        |           FROM documents),
        |  p AS (SELECT doc_id, COALESCE(text, '') AS text FROM p0),
        |  m AS (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |          length(replace(text, ' ', '')) AS n_alpha,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |        FROM p),
        |  lab0 AS (SELECT doc_id,
        |          ((n_words >= 50 AND n_words <= 100000)
        |           AND ((CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) >= 3.0
        |            AND (CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) <= 10.0)
        |           AND (CASE WHEN n_words = 0 THEN 0.0
        |                ELSE CAST(n_sym AS DOUBLE) / n_words END) <= 0.1
        |           AND n_stop >= 2) AS passes
        |        FROM m),
        |  lab AS (SELECT doc_id, passes FROM lab0 WHERE doc_id % 2 = 0),
        |  tok AS (SELECT doc_id, w FROM (
        |            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM p)
        |          WHERE length(w) > 0),
        |  cnt AS (SELECT w,
        |            CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS c_g,
        |            CAST(sum(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |          FROM tok t JOIN lab l USING (doc_id) GROUP BY w),
        |  tots AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
        |                  CAST(sum(c_b) AS BIGINT) AS n_b,
        |                  CAST(count(*) AS BIGINT) AS v
        |           FROM cnt),
        |  model AS (SELECT w,
        |              (1000000::HUGEINT * (tots.n_b + tots.v) * (c_g + 1)) //
        |              ((tots.n_g + tots.v)::HUGEINT * (c_b + 1)) AS r_ppm
        |            FROM cnt CROSS JOIN tots),
        |  r0 AS (SELECT (1000000::HUGEINT * (n_b + v)) // (n_g + v) AS r FROM tots),
        |  sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |           sum(COALESCE(mo.r_ppm, r0.r)) AS tot
        |         FROM tok t LEFT JOIN model mo USING (w) CROSS JOIN r0
        |         WHERE t.doc_id % 2 <> 0
        |         GROUP BY t.doc_id),
        |  score AS (SELECT d.doc_id,
        |              CAST(COALESCE(s.tot // s.n_tokens, 0) AS BIGINT) AS v
        |            FROM p d LEFT JOIN sc s USING (doc_id)
        |            WHERE d.doc_id % 2 <> 0),
        |  f AS (SELECT s.doc_id,
        |           CAST(1000000::HUGEINT * s.v // (s.v + 1000000) AS BIGINT)
        |             AS fp,
        |           l.passes
        |        FROM score s JOIN lab0 l USING (doc_id)),
        |  b AS (SELECT fp, passes,
        |          CAST(ntile(10) OVER (ORDER BY fp, doc_id) AS BIGINT)
        |            AS bucket
        |        FROM f),
        |  bb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nb,
        |           CAST(count(*) FILTER (passes) AS BIGINT) AS pos_b,
        |           CAST(sum(fp) AS BIGINT) AS f_sum
        |         FROM b GROUP BY 1),
        |  b2 AS (SELECT nb, pos_b, f_sum // nb AS f_b,
        |           1000000 * pos_b // nb AS o_b
        |         FROM bb),
        |  t AS (SELECT CAST(sum(nb) AS BIGINT) AS n,
        |          CAST(sum(pos_b) AS BIGINT) AS np
        |        FROM b2),
        |  t2 AS (SELECT n, np, 1000000 * np // n AS obar FROM t),
        |  agg AS (SELECT
        |            sum(CAST(nb AS HUGEINT) * (f_b - o_b) * (f_b - o_b))
        |              AS rel_num,
        |            sum(CAST(nb AS HUGEINT) * (o_b - t2.obar) *
        |                (o_b - t2.obar)) AS res_num
        |          FROM b2 CROSS JOIN t2)
        |SELECT t2.n, t2.np AS n_pos, t2.obar AS obar_ppm,
        |       CAST(rel_num // t2.n AS BIGINT) AS rel_ppm2,
        |       CAST(res_num // t2.n AS BIGINT) AS res_ppm2,
        |       CAST(t2.obar * (1000000 - t2.obar) AS BIGINT) AS unc_ppm2,
        |       CAST(rel_num // t2.n - res_num // t2.n +
        |            t2.obar * (1000000 - t2.obar) AS BIGINT) AS brier_ppm2
        |FROM agg CROSS JOIN t2""".stripMargin,

    "x186_nb_auc" ->
      """WITH p0 AS (SELECT doc_id,
        |             CASE WHEN doc_id % 17 = 0 THEN replace(text, ' ', '')
        |                  WHEN doc_id % 13 = 0 THEN text || ' !!! ### $$$'
        |                  ELSE text END AS text
        |           FROM documents),
        |  p AS (SELECT doc_id, COALESCE(text, '') AS text FROM p0),
        |  m AS (SELECT doc_id,
        |          len(list_filter(string_split(text, ' '), t -> length(t) > 0)) AS n_words,
        |          length(replace(text, ' ', '')) AS n_alpha,
        |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_sym,
        |          len(list_filter(string_split(text, ' '),
        |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
        |        FROM p),
        |  lab0 AS (SELECT doc_id,
        |          ((n_words >= 50 AND n_words <= 100000)
        |           AND ((CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) >= 3.0
        |            AND (CASE WHEN n_words = 0 THEN 0.0
        |                 ELSE CAST(n_alpha AS DOUBLE) / n_words END) <= 10.0)
        |           AND (CASE WHEN n_words = 0 THEN 0.0
        |                ELSE CAST(n_sym AS DOUBLE) / n_words END) <= 0.1
        |           AND n_stop >= 2) AS passes
        |        FROM m),
        |  lab AS (SELECT doc_id, passes FROM lab0 WHERE doc_id % 2 = 0),
        |  tok AS (SELECT doc_id, w FROM (
        |            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM p)
        |          WHERE length(w) > 0),
        |  cnt AS (SELECT w,
        |            CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT) AS c_g,
        |            CAST(sum(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |          FROM tok t JOIN lab l USING (doc_id) GROUP BY w),
        |  tots AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
        |                  CAST(sum(c_b) AS BIGINT) AS n_b,
        |                  CAST(count(*) AS BIGINT) AS v
        |           FROM cnt),
        |  model AS (SELECT w,
        |              (1000000::HUGEINT * (tots.n_b + tots.v) * (c_g + 1)) //
        |              ((tots.n_g + tots.v)::HUGEINT * (c_b + 1)) AS r_ppm
        |            FROM cnt CROSS JOIN tots),
        |  r0 AS (SELECT (1000000::HUGEINT * (n_b + v)) // (n_g + v) AS r FROM tots),
        |  sc AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |           sum(COALESCE(mo.r_ppm, r0.r)) AS tot
        |         FROM tok t LEFT JOIN model mo USING (w) CROSS JOIN r0
        |         WHERE t.doc_id % 2 <> 0
        |         GROUP BY t.doc_id),
        |  score AS (SELECT d.doc_id,
        |              CAST(COALESCE(s.tot // s.n_tokens, 0) AS BIGINT) AS v
        |            FROM p d LEFT JOIN sc s USING (doc_id)
        |            WHERE d.doc_id % 2 <> 0),
        |  e AS (SELECT v, passes
        |        FROM score JOIN lab0 USING (doc_id)
        |        WHERE doc_id % 2 <> 0),
        |  r AS (SELECT passes,
        |          2 * (CAST(rank() OVER (ORDER BY v) AS BIGINT) - 1)
        |          + CAST(count(*) OVER (PARTITION BY v) AS BIGINT) + 1 AS r2
        |        FROM e),
        |  t2 AS (SELECT
        |           CAST(count(*) FILTER (WHERE passes) AS BIGINT) AS n_pass,
        |           CAST(count(*) FILTER (WHERE NOT passes) AS BIGINT) AS n_fail,
        |           sum(CASE WHEN passes THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS r2p
        |         FROM r)
        |SELECT n_pass, n_fail,
        |       CAST(coalesce(r2p - CAST(n_pass AS HUGEINT) * (n_pass + 1), 0)
        |            AS BIGINT) AS u2,
        |       CAST(CASE WHEN n_pass = 0 OR n_fail = 0 THEN 0
        |                 ELSE CAST(1000000 AS HUGEINT) *
        |                      (r2p - CAST(n_pass AS HUGEINT) * (n_pass + 1))
        |                      // (CAST(2 AS HUGEINT) * n_pass * n_fail)
        |            END AS BIGINT) AS auc_ppm
        |FROM t2""".stripMargin,

    // Erasure audit: the membership flag restated as a CASE on the
    // same modulus — before = dropped + after by construction.
    "x195_erasure_audit" ->
      """WITH e AS (SELECT event_type, user_id,
        |                  (user_id % 97 = 0) AS erase
        |           FROM events WHERE user_id IS NOT NULL)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_before,
        |       CAST(coalesce(sum(CASE WHEN erase THEN 1 END), 0)
        |            AS BIGINT) AS n_dropped,
        |       CAST(coalesce(sum(CASE WHEN NOT erase THEN 1 END), 0)
        |            AS BIGINT) AS n_after,
        |       CAST(count(DISTINCT CASE WHEN erase THEN user_id END)
        |            AS BIGINT) AS n_subjects_present
        |FROM e GROUP BY event_type""".stripMargin,

    // Detector confusion: the x5 SimHash pair construction FULL OUTER
    // the x18 exact-Jaccard pair construction, one aggregate row.
    "x194_neardup_confusion" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |            FROM documents),
         |  h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS lo,
         |               ('0x' || substr(md5(t), 9, 8))::BIGINT AS hi FROM tok),
         |  ssum AS (SELECT doc_id, $simhashSums FROM h GROUP BY doc_id),
         |  sig AS (SELECT doc_id, CAST($simhashPacked AS BIGINT) AS simhash
         |          FROM ssum),
         |  cand AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |  $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  truth AS (
         |    SELECT i.a_id, i.b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  j AS (SELECT coalesce(c.a_id, t.a_id) AS a_id,
         |               c.a_id IS NOT NULL AS in_cand,
         |               t.a_id IS NOT NULL AS in_truth
         |        FROM cand c FULL OUTER JOIN truth t
         |          ON c.a_id = t.a_id AND c.b_id = t.b_id),
         |  agg AS (SELECT
         |      CAST(coalesce(sum(CASE WHEN in_cand AND in_truth
         |                              THEN 1 END), 0) AS BIGINT) AS n_both,
         |      CAST(coalesce(sum(CASE WHEN NOT in_truth THEN 1 END), 0)
         |           AS BIGINT) AS n_cand_only,
         |      CAST(coalesce(sum(CASE WHEN NOT in_cand THEN 1 END), 0)
         |           AS BIGINT) AS n_truth_only
         |    FROM j)
         |SELECT n_both, n_cand_only, n_truth_only,
         |       CAST(CASE WHEN n_both + n_cand_only = 0 THEN 0
         |                 ELSE 1000000 * n_both // (n_both + n_cand_only)
         |            END AS BIGINT) AS precision_ppm,
         |       CAST(CASE WHEN n_both + n_truth_only = 0 THEN 0
         |                 ELSE 1000000 * n_both // (n_both + n_truth_only)
         |            END AS BIGINT) AS recall_ppm
         |FROM agg""".stripMargin,

    // Dup-size histogram: the x24 recursive component closure extended
    // with the size histogram + the corpus-minus-labeled singleton row.
    "x193_dup_size_histogram" ->
      s"""WITH RECURSIVE $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |  reach(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |  comp AS (SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
         |           FROM (SELECT DISTINCT a FROM e) n
         |           JOIN reach r ON r.a = n.a
         |           GROUP BY n.a),
         |  cs AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |         FROM comp GROUP BY 1),
         |  h AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |        FROM cs GROUP BY 1),
         |  tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
         |  lab AS (SELECT CAST(coalesce(sum(cluster_size * n_clusters), 0)
         |                      AS BIGINT) AS n_labeled FROM h),
         |  fh AS (
         |    SELECT cluster_size, n_clusters,
         |           cluster_size * n_clusters AS n_docs FROM h
         |    UNION ALL
         |    SELECT 1, n_total - n_labeled, n_total - n_labeled
         |    FROM tot, lab WHERE n_total - n_labeled > 0)
         |SELECT cluster_size, CAST(n_clusters AS BIGINT) AS n_clusters,
         |       CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(1000000 * n_docs // n_total AS BIGINT) AS docs_ppm
         |FROM fh, tot""".stripMargin,

    // Z-order layout: the SAME generated Morton expression (one Scala
    // source of truth, DuckDB's // for Spark's DIV) and the same
    // fixed-width z-range bucketing — the oracle cannot drift from
    // the query's bit layout.
    "x191_zorder_layout" -> {
      val z = graft.ext.Stats.zorderSql("x", "y", 8, "//")
      val width = ((1L << 16) + 63) / 64
      s"""WITH p AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
         |           FROM lineitem
         |           WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
         |z AS (SELECT x, y, ($z) AS z FROM p)
         |SELECT z // $width AS bucket, CAST(count(*) AS BIGINT) AS n,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1""".stripMargin
    },

    // Watermark lateness: the same planted arrival order, running max
    // over strictly-earlier arrivals, histogram rank carve per type.
    "x190_watermark_lateness" ->
      """WITH e AS (SELECT event_type, event_id,
        |                  event_id + CASE WHEN event_id % 7 = 0
        |                                  THEN 25 ELSE 0 END AS arr,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |           FROM events
        |           WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        |l AS (SELECT event_type,
        |        greatest(coalesce(max(us) OVER (PARTITION BY event_type
        |                 ORDER BY arr, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                 - us, 0), 0) AS late_us
        |      FROM e),
        |h AS (SELECT event_type, late_us,
        |             CAST(count(*) AS BIGINT) AS cnt
        |      FROM l GROUP BY 1, 2),
        |c AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type
        |             ORDER BY late_us
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM h),
        |t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
        |             CAST(coalesce(sum(cnt) FILTER (WHERE late_us > 0), 0)
        |                  AS BIGINT) AS n_late,
        |             CAST(max(late_us) AS BIGINT) AS max_late_us
        |      FROM h GROUP BY 1),
        |p AS (SELECT event_type, n_events, n_late, max_late_us,
        |             unnest([50, 90, 99]) AS p
        |      FROM t),
        |tr AS (SELECT *, (p * n_events + 99) // 100 AS target FROM p)
        |SELECT c.event_type, tr.p, tr.n_events, tr.n_late, tr.max_late_us,
        |       CAST(c.late_us AS BIGINT) AS late_us_at_p
        |FROM c JOIN tr ON c.event_type = tr.event_type
        |WHERE c.cum >= tr.target AND c.cum - c.cnt < tr.target""".stripMargin,

    // Interval union: the identical sweep — running max end over
    // strictly-earlier rows under the SAME total order, island cut
    // where start passes it, extents summed per key. End clamped to
    // start; ppm through HUGEINT (Spark DECIMAL(38,0)).
    // Schema drift: statuses are authored literals (schemas are
    // metadata), null rates recomputed per side; type names spell
    // Spark's dataType.sql ('BIGINT'/'STRING'/'INT').
    "x270_schema_drift" ->
      """WITH p1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (doc_id IS NULL) AS BIGINT) AS n_doc,
        |         CAST(count(*) FILTER (text IS NULL) AS BIGINT) AS n_text,
        |         CAST(count(*) FILTER (lang IS NULL) AS BIGINT) AS n_lang,
        |         CAST(count(*) FILTER (source IS NULL) AS BIGINT) AS n_src
        |       FROM documents),
        |p2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(*) FILTER (doc_id IS NULL) AS BIGINT) AS n_doc,
        |         CAST(count(*) FILTER (doc_id % 31 = 0 OR text IS NULL)
        |           AS BIGINT) AS n_text,
        |         CAST(count(*) FILTER (source IS NULL) AS BIGINT) AS n_src,
        |         CAST(count(*) FILTER (text IS NULL) AS BIGINT) AS n_chars
        |       FROM documents)
        |SELECT 'doc_id' AS "column", 'type_changed' AS status,
        |       'BIGINT' AS type_v1, 'STRING' AS type_v2,
        |       CAST(1000000 * p1.n_doc // p1.n AS BIGINT) AS null_ppm_v1,
        |       CAST(1000000 * p2.n_doc // p2.n AS BIGINT) AS null_ppm_v2
        |FROM p1, p2
        |UNION ALL SELECT 'lang', 'removed', 'STRING',
        |       CAST(NULL AS VARCHAR),
        |       CAST(1000000 * p1.n_lang // p1.n AS BIGINT),
        |       CAST(NULL AS BIGINT) FROM p1, p2
        |UNION ALL SELECT 'n_chars', 'added', CAST(NULL AS VARCHAR),
        |       'INT', CAST(NULL AS BIGINT),
        |       CAST(1000000 * p2.n_chars // p2.n AS BIGINT) FROM p1, p2
        |UNION ALL SELECT 'source', 'kept', 'STRING', 'STRING',
        |       CAST(1000000 * p1.n_src // p1.n AS BIGINT),
        |       CAST(1000000 * p2.n_src // p2.n AS BIGINT) FROM p1, p2
        |UNION ALL SELECT 'text', 'kept', 'STRING', 'STRING',
        |       CAST(1000000 * p1.n_text // p1.n AS BIGINT),
        |       CAST(1000000 * p2.n_text // p2.n AS BIGINT)
        |       FROM p1, p2""".stripMargin,

    // Top-k churn: 90-day buckets, (count desc, suppkey) rank cut,
    // consecutive-present buckets joined on the shifted key.
    "x267_topk_churn" ->
      """WITH t AS (
        |  SELECT epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 7776000000000
        |           AS bucket,
        |         l_suppkey, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT bucket, l_suppkey,
        |         row_number() OVER (PARTITION BY bucket
        |                            ORDER BY c DESC, l_suppkey) AS rnk
        |  FROM t),
        |tp AS (SELECT bucket, l_suppkey FROM r WHERE rnk <= 20),
        |sz AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
        |       FROM tp GROUP BY 1),
        |cm AS (SELECT a.bucket, CAST(count(*) AS BIGINT) AS n_common
        |       FROM tp a JOIN tp b ON a.bucket = b.bucket + 1
        |                          AND a.l_suppkey = b.l_suppkey
        |       GROUP BY 1)
        |SELECT c.bucket, p.n AS n_prev, c.n AS n_curr,
        |       coalesce(cm.n_common, 0) AS n_common,
        |       c.n - coalesce(cm.n_common, 0) AS n_new,
        |       CAST(1000000 * coalesce(cm.n_common, 0) //
        |         (p.n + c.n - coalesce(cm.n_common, 0)) AS BIGINT)
        |         AS jaccard_ppm
        |FROM sz c JOIN sz p ON c.bucket = p.bucket + 1
        |LEFT JOIN cm ON cm.bucket = c.bucket""".stripMargin,

    "x192_interval_union" ->
      """WITH iv AS (
        |  SELECT l_suppkey AS k,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS s,
        |         greatest(epoch_us(CAST(l_shipdate AS TIMESTAMP)),
        |                  epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS e,
        |         l_orderkey AS ok, l_linenumber AS ln
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_suppkey IS NOT NULL AND o_orderdate IS NOT NULL
        |        AND l_shipdate IS NOT NULL),
        |m AS (SELECT *, max(e) OVER (PARTITION BY k ORDER BY s, e, ok, ln
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM iv),
        |g AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax
        |                     THEN 1 ELSE 0 END AS nw FROM m),
        |i AS (SELECT *, sum(nw) OVER (PARTITION BY k ORDER BY s, e, ok, ln
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |      FROM g),
        |seg AS (SELECT k, isl, CAST(count(*) AS BIGINT) AS n,
        |               min(s) AS i_s, max(e) AS i_e
        |        FROM i GROUP BY 1, 2)
        |SELECT k AS l_suppkey,
        |       CAST(sum(n) AS BIGINT) AS n_intervals,
        |       CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(i_e - i_s) AS BIGINT) AS covered_us,
        |       CAST(max(i_e) - min(i_s) AS BIGINT) AS span_us,
        |       CASE WHEN max(i_e) - min(i_s) = 0 THEN CAST(1000000 AS BIGINT)
        |            ELSE CAST((1000000::HUGEINT * sum(i_e - i_s))
        |                      // (max(i_e) - min(i_s)) AS BIGINT)
        |       END AS utilization_ppm
        |FROM seg GROUP BY 1""".stripMargin,

    // Time-weighted average: step-hold mass cents*gap in HUGEINT
    // (Spark DECIMAL(38,0)), sign-decomposed final division, NULL on
    // a zero span; duplicate instants order by event_id on both sides.
    "x196_time_weighted" ->
      """WITH r AS (
        |  SELECT event_type, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |        AND event_id IS NOT NULL),
        |g AS (SELECT event_type, us, cents,
        |             lead(us) OVER (PARTITION BY event_type
        |                            ORDER BY us, event_id) - us AS gap_us
        |      FROM r)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n_samples,
        |       CAST(max(us) - min(us) AS BIGINT) AS span_us,
        |       CASE WHEN max(us) - min(us) = 0 THEN NULL
        |            WHEN sum(CAST(cents AS HUGEINT) * gap_us) >= 0
        |            THEN CAST(sum(CAST(cents AS HUGEINT) * gap_us)
        |                      // (max(us) - min(us)) AS BIGINT)
        |            ELSE -CAST((-sum(CAST(cents AS HUGEINT) * gap_us))
        |                       // (max(us) - min(us)) AS BIGINT)
        |       END AS twa_cents
        |FROM g GROUP BY 1""".stripMargin,

    // Weighted percentiles: the same histogram carve with weight =
    // bin char mass; zero-weight bins can never satisfy the half-open
    // carve interval on either engine.
    "x199_weighted_quantiles" ->
      """WITH h AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(count(*) AS BIGINT) * CAST(length(text) AS BIGINT)
        |           AS w
        |  FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |c AS (SELECT *, sum(w) OVER (PARTITION BY source ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
        |      FROM h),
        |t AS (SELECT source, CAST(sum(w) AS BIGINT) AS char_mass,
        |             CAST(sum(cnt) AS BIGINT) AS n_docs
        |      FROM h GROUP BY 1),
        |p AS (SELECT source, char_mass, n_docs, unnest([50, 90]) AS p
        |      FROM t),
        |tr AS (SELECT *, (p * char_mass + 99) // 100 AS target_w FROM p)
        |SELECT c.source, tr.p, tr.n_docs, tr.char_mass,
        |       c.v AS chars_at_p
        |FROM c JOIN tr ON c.source = tr.source
        |WHERE c.cum_w >= tr.target_w AND c.cum_w - c.w < tr.target_w"""
        .stripMargin,

    // Wasserstein-1: the x134 shared-grid carry-forward scaffolding
    // with gap-weighted |cross-multiplied cdf difference| summed in
    // HUGEINT (Spark DECIMAL(38,0)); the report divides once.
    "x200_wasserstein_drift" ->
      """WITH d AS (
        |  SELECT source,
        |         CAST(length(coalesce(text, '')) AS BIGINT) AS v
        |  FROM documents),
        |ah AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
        |       FROM d GROUP BY 1),
        |ac AS (SELECT v, cnt,
        |              CAST(sum(cnt) OVER (ORDER BY v
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS BIGINT) AS cum_all,
        |              lead(v) OVER (ORDER BY v) - v AS gap
        |       FROM ah),
        |na AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_all FROM ah),
        |sh AS (SELECT source, v, CAST(count(*) AS BIGINT) AS scnt
        |       FROM d GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(scnt) AS BIGINT) AS n_src
        |       FROM sh GROUP BY 1),
        |g AS (SELECT ns.source, ac.v, ac.cum_all, ac.gap,
        |             CAST(coalesce(sum(coalesce(sh.scnt, 0)) OVER (
        |               PARTITION BY ns.source ORDER BY ac.v
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |               0) AS BIGINT) AS cum_src
        |      FROM ac CROSS JOIN ns
        |           LEFT JOIN sh ON sh.source = ns.source AND sh.v = ac.v)
        |SELECT g.source, ns.n_src AS n_docs,
        |       CAST(1000000::HUGEINT *
        |            coalesce(sum(abs(CAST(g.cum_src AS HUGEINT) * na.n_all
        |                             - CAST(g.cum_all AS HUGEINT) * ns.n_src)
        |                         * g.gap), 0)
        |            // (ns.n_src::HUGEINT * na.n_all) AS BIGINT) AS w1_microchars
        |FROM g JOIN ns ON g.source = ns.source CROSS JOIN na
        |GROUP BY 1, 2, na.n_all""".stripMargin,

    // Streaks: the day - row_number() gaps-and-islands identity over
    // distinct active days, replayed verbatim.
    "x201_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |g AS (SELECT user_id, day,
        |             day - row_number() OVER (PARTITION BY user_id
        |                                      ORDER BY day) AS grp
        |      FROM days),
        |runs AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |         FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |       CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS longest_streak
        |FROM runs GROUP BY 1""".stripMargin,

    // Isotropy: identical quantized per-dimension sums (the x12/x13
    // comprehension idiom for element access), the sum-vector
    // identity, sign-decomposed pair-dot division. Spark's dim index
    // is 0-based and DuckDB's 1-based — dim is only an internal
    // grouping key, never an output.
    "x203_isotropy_audit" ->
      """WITH q AS (
        |  SELECT label, vec_id, u.d AS dim, u.q AS qv
        |  FROM (SELECT label, vec_id,
        |               unnest([{'d': i,
        |                        'q': CAST(floor(CAST(embedding[i] AS DOUBLE)
        |                             * 1000000 + 0.5) AS BIGINT)}
        |                       FOR i IN range(1, len(embedding) + 1)]) AS u
        |        FROM embeddings
        |        WHERE label IS NOT NULL AND embedding IS NOT NULL)),
        |d AS (SELECT label, dim, sum(CAST(qv AS HUGEINT)) AS s,
        |             sum(CAST(qv AS HUGEINT) * qv) AS ss
        |      FROM q GROUP BY 1, 2),
        |p AS (SELECT label, sum(s * s) AS s2, sum(ss) AS norms,
        |             CAST(count(*) AS BIGINT) AS n_dims
        |      FROM d GROUP BY 1),
        |c AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors
        |      FROM embeddings
        |      WHERE label IS NOT NULL AND embedding IS NOT NULL
        |      GROUP BY 1)
        |SELECT p.label, c.n_vectors, p.n_dims,
        |       CAST(p.norms // c.n_vectors AS BIGINT) AS avg_norm2,
        |       CASE WHEN c.n_vectors < 2 THEN NULL
        |            WHEN p.s2 - p.norms >= 0
        |            THEN CAST((p.s2 - p.norms)
        |                 // (c.n_vectors::HUGEINT * (c.n_vectors - 1))
        |                 AS BIGINT)
        |            ELSE -CAST((p.norms - p.s2)
        |                 // (c.n_vectors::HUGEINT * (c.n_vectors - 1))
        |                 AS BIGINT)
        |       END AS avg_pair_dot
        |FROM p JOIN c USING (label)""".stripMargin,

    // Pair evidence: the x114 pair closure re-joined to the exploded
    // shingles of the pair MEMBERS; n_shared independently re-derives
    // inter.i, min(g) is the deterministic sample.
    "x205_neardup_evidence" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS MATERIALIZED (
         |    SELECT i.a_id, i.b_id
         |    FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  ev AS (SELECT p.a_id, p.b_id, ea.g
         |         FROM pairs p
         |         JOIN ex ea ON ea.doc_id = p.a_id
         |         JOIN ex eb ON eb.doc_id = p.b_id AND eb.g = ea.g),
         |  agg AS (SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS n_shared,
         |                 min(g) AS evidence_gram
         |          FROM ev GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id,
         |       coalesce(agg.n_shared, CAST(0 AS BIGINT)) AS n_shared,
         |       agg.evidence_gram
         |FROM pairs p LEFT JOIN agg USING (a_id, b_id)""".stripMargin,

    // Longest shared token span: the same diagonal gaps-and-islands
    // construction — position join on token equality, runs are
    // consecutive-i islands per (pair, i - j) diagonal, anchor is the
    // (a_start, b_start) minimum among max-length runs.
    "x206_shared_span" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS MATERIALIZED (
         |    SELECT i.a_id, i.b_id
         |    FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  tok AS (SELECT doc_id, r['p'] AS pos, r['t'] AS tok FROM (
         |    SELECT doc_id,
         |           unnest([{'p': i-1, 't': s[i]} FOR i IN range(1, len(s)+1)]) AS r
         |    FROM (SELECT doc_id, string_split(text, ' ') AS s
         |          FROM documents WHERE text IS NOT NULL))),
         |  m AS (SELECT p.a_id, p.b_id, a.pos AS i, b.pos AS j,
         |               a.pos - b.pos AS diag
         |        FROM pairs p
         |        JOIN tok a ON a.doc_id = p.a_id
         |        JOIN tok b ON b.doc_id = p.b_id AND b.tok = a.tok),
         |  isl AS (SELECT a_id, b_id, diag, i,
         |                 i - row_number() OVER (
         |                   PARTITION BY a_id, b_id, diag ORDER BY i) AS grp
         |          FROM m),
         |  runs AS (SELECT a_id, b_id, diag,
         |                  CAST(count(*) AS BIGINT) AS run_len,
         |                  CAST(min(i) AS BIGINT) AS a_start
         |           FROM isl GROUP BY a_id, b_id, diag, grp),
         |  r2 AS (SELECT a_id, b_id, run_len, a_start,
         |                CAST(a_start - diag AS BIGINT) AS b_start
         |         FROM runs),
         |  sel AS (SELECT a_id, b_id, run_len, a_start, b_start,
         |                 row_number() OVER (PARTITION BY a_id, b_id
         |                   ORDER BY run_len DESC, a_start, b_start) AS rn
         |          FROM r2),
         |  best AS (SELECT a_id, b_id, run_len AS lcs_tokens,
         |                  a_start, b_start
         |           FROM sel WHERE rn = 1),
         |  cnts AS (SELECT r2.a_id, r2.b_id,
         |                  CAST(count(*) AS BIGINT) AS n_max_runs
         |           FROM r2 JOIN best b
         |             ON b.a_id = r2.a_id AND b.b_id = r2.b_id
         |            AND r2.run_len = b.lcs_tokens
         |           GROUP BY 1, 2)
         |SELECT p.a_id, p.b_id,
         |       coalesce(best.lcs_tokens, CAST(0 AS BIGINT)) AS lcs_tokens,
         |       coalesce(cnts.n_max_runs, CAST(0 AS BIGINT)) AS n_max_runs,
         |       best.a_start, best.b_start
         |FROM pairs p
         |LEFT JOIN best USING (a_id, b_id)
         |LEFT JOIN cnts USING (a_id, b_id)""".stripMargin,

    // Epoch planner: identical integer waterfall — uniform target
    // with remainder to the smallest source, cap, one proportional
    // redistribution bounded by per-source headroom, HUGEINT staging.
    "x207_epoch_plan" ->
      """WITH per AS (SELECT source,
        |                    CAST(sum(len(string_split(coalesce(text, ''),
        |                                              ' '))) AS BIGINT)
        |                      AS n_tokens
        |             FROM documents GROUP BY source),
        |  b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget
        |        FROM per),
        |  base AS (SELECT * FROM per WHERE n_tokens > 0),
        |  k AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS k,
        |               min(source) AS first_source
        |        FROM base),
        |  t1 AS (SELECT source, n_tokens,
        |                budget // k + CASE WHEN source = first_source
        |                  THEN budget % k ELSE 0 END AS target_tokens,
        |                CAST(CAST(n_tokens AS HUGEINT) * 1500000
        |                     // 1000000 AS BIGINT) AS cap_tokens
        |         FROM base, k, b),
        |  t2 AS (SELECT *, least(target_tokens, cap_tokens) AS alloc1
        |         FROM t1),
        |  tot AS (SELECT CAST(sum(target_tokens - alloc1) AS BIGINT)
        |                   AS surplus,
        |                 CAST(sum(CASE WHEN alloc1 < cap_tokens
        |                   THEN cap_tokens - alloc1 ELSE 0 END) AS BIGINT)
        |                   AS headroom_total
        |          FROM t2),
        |  f AS (SELECT source, n_tokens, target_tokens, cap_tokens,
        |               alloc1 + CASE WHEN headroom_total > 0 THEN
        |                 least(CASE WHEN alloc1 < cap_tokens
        |                         THEN cap_tokens - alloc1 ELSE 0 END,
        |                       CAST(CAST(surplus AS HUGEINT) *
        |                         (CASE WHEN alloc1 < cap_tokens
        |                          THEN cap_tokens - alloc1 ELSE 0 END)
        |                         // headroom_total AS BIGINT))
        |                 ELSE 0 END AS alloc_tokens
        |        FROM t2, tot)
        |SELECT source, n_tokens, target_tokens, cap_tokens, alloc_tokens,
        |       CAST(CAST(alloc_tokens AS HUGEINT) * 1000000 // n_tokens
        |            AS BIGINT) AS epochs_ppm
        |FROM f""".stripMargin,

    // ESS diagnostics: the x164 weight construction joined back to
    // the source dimension, then the Kish identity in HUGEINT.
    "x208_ess_weights" ->
      """WITH b AS (SELECT doc_id, source, md5(coalesce(text, '')) AS h
        |           FROM documents),
        |  c AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies
        |        FROM b GROUP BY h),
        |  w AS (SELECT b.doc_id, b.source,
        |               CAST(1000000 // n_copies AS BIGINT) AS w
        |        FROM b JOIN c USING (h)),
        |  a AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(w) AS BIGINT) AS sum_w,
        |               sum(CAST(w AS HUGEINT) * w) AS sum_w2,
        |               CAST(max(w) AS BIGINT) AS max_w
        |        FROM w GROUP BY source)
        |SELECT source, n, sum_w,
        |       CASE WHEN sum_w2 > 0 THEN
        |         CAST(CAST(sum_w AS HUGEINT) * sum_w * 1000000
        |              // (sum_w2 * n) AS BIGINT) ELSE 0 END AS ess_ppm,
        |       CASE WHEN sum_w > 0 THEN
        |         CAST(CAST(max_w AS HUGEINT) * 1000000 // sum_w AS BIGINT)
        |         ELSE 0 END AS max_w_share_ppm
        |FROM a""".stripMargin,

    // Lead-lag: the x129 moment machinery per lag over the dense
    // zero-filled day grid, staged |num| division (x141 convention).
    "x209_lead_lag" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events
        |  WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |  span AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |  grid AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span),
        |  xs AS (SELECT g.day, coalesce(dc.c, 0) AS x
        |         FROM grid g LEFT JOIN dc
        |           ON dc.day = g.day AND dc.event_type = 'click'),
        |  ys AS (SELECT g.day, coalesce(dc.c, 0) AS y
        |         FROM grid g LEFT JOIN dc
        |           ON dc.day = g.day AND dc.event_type = 'purchase'),
        |  m AS (SELECT l.lag, xs.x, ys.y
        |        FROM xs, range(-3, 4) l(lag)
        |        JOIN ys ON ys.day = xs.day + l.lag),
        |  a AS (SELECT lag, CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(x) AS BIGINT) AS sx,
        |               CAST(sum(y) AS BIGINT) AS sy,
        |               sum(CAST(x AS HUGEINT) * y) AS sxy,
        |               sum(CAST(x AS HUGEINT) * x) AS sxx,
        |               sum(CAST(y AS HUGEINT) * y) AS syy
        |        FROM m GROUP BY 1),
        |  b AS (SELECT lag, m,
        |               m * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |               m * sxx - CAST(sx AS HUGEINT) * sx AS denx,
        |               m * syy - CAST(sy AS HUGEINT) * sy AS deny
        |        FROM a)
        |SELECT CAST(lag AS BIGINT) AS lag, m AS n_days,
        |       CASE WHEN m < 2 OR denx <= 0 OR deny <= 0 THEN 0
        |            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |                      ((CAST(1000000 AS HUGEINT) * abs(num)
        |                        // greatest(denx, deny)) * abs(num)
        |                       // least(denx, deny)) AS BIGINT) END
        |         AS r2_signed_ppm
        |FROM b""".stripMargin,

    // Subsampling replicates: identical one-hash bit-b membership
    // (md5-32 bits are the 32 replicate coins), exact integer cents,
    // integral replicate means.
    "x210_subsample_ci" ->
      """WITH v AS (SELECT ('0x' || substr(md5('ci|' || o_orderkey), 1, 8))
        |                    ::BIGINT AS h,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    AS v
        |           FROM orders WHERE o_totalprice IS NOT NULL),
        |  e AS (SELECT h, v, r.rep FROM v, range(0, 32) r(rep)),
        |  kept AS (SELECT rep, v FROM e
        |           WHERE (h >> rep) & 1 = 0)
        |SELECT CAST(rep AS BIGINT) AS rep,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(v) AS BIGINT) AS sum_cents,
        |       CAST((CASE WHEN sum(v) < 0 THEN -1 ELSE 1 END) *
        |            (abs(sum(v)) // count(*)) AS BIGINT) AS mean_cents
        |FROM kept GROUP BY rep""".stripMargin,

    // ANOVA eta^2: identical sums-of-floors construction in HUGEINT,
    // clamped at zero on both engines.
    "x211_anova_eta" ->
      """WITH b AS (SELECT o_orderpriority AS g,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    AS v
        |           FROM orders
        |           WHERE o_totalprice IS NOT NULL
        |             AND o_orderpriority IS NOT NULL),
        |  per AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
        |                 CAST(sum(v) AS BIGINT) AS s_g
        |          FROM b GROUP BY g),
        |  agg AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
        |                 CAST(sum(n_g) AS BIGINT) AS n_total,
        |                 CAST(sum(s_g) AS BIGINT) AS s_total,
        |                 sum(CAST(s_g AS HUGEINT) * s_g // n_g) AS t_between
        |          FROM per),
        |  q AS (SELECT sum(CAST(v AS HUGEINT) * v) AS q_total FROM b),
        |  f AS (SELECT n_total, k_groups, t_between, q_total,
        |               CAST(s_total AS HUGEINT) * s_total // n_total
        |                 AS correction
        |        FROM agg, q)
        |SELECT n_total, k_groups,
        |       CASE WHEN n_total < 2 OR k_groups < 2
        |                 OR q_total - correction <= 0 THEN 0
        |            ELSE greatest(0, CAST(
        |              CAST(1000000 AS HUGEINT) * (t_between - correction)
        |              // (q_total - correction) AS BIGINT)) END AS eta2_ppm
        |FROM f""".stripMargin,

    // Share-of-parent: identical two-level cents rollup, HUGEINT
    // staged share.
    "x212_share_of_parent" ->
      """WITH f AS (SELECT r_name AS parent, n_name AS child,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    AS cents
        |           FROM orders
        |           JOIN customer ON c_custkey = o_custkey
        |           JOIN nation ON n_nationkey = c_nationkey
        |           JOIN region ON r_regionkey = n_regionkey
        |           WHERE o_totalprice IS NOT NULL),
        |  ch AS (SELECT parent, child, CAST(count(*) AS BIGINT) AS n_rows,
        |                CAST(sum(cents) AS BIGINT) AS child_cents
        |         FROM f GROUP BY 1, 2),
        |  pa AS (SELECT parent, CAST(sum(child_cents) AS BIGINT)
        |                          AS parent_cents
        |         FROM ch GROUP BY 1)
        |SELECT ch.parent, ch.child, ch.n_rows, ch.child_cents,
        |       pa.parent_cents,
        |       CASE WHEN pa.parent_cents = 0 THEN 0
        |            ELSE CAST(CAST(ch.child_cents AS HUGEINT) * 1000000
        |                      // pa.parent_cents AS BIGINT) END AS share_ppm
        |FROM ch JOIN pa USING (parent)""".stripMargin,

    // Cumulative reach: first-appearance day per user, running sum
    // over the day order.
    "x213_cumulative_reach" ->
      """WITH fd AS (SELECT user_id,
        |                   min(epoch_us(CAST(ts AS TIMESTAMP))
        |                       // 86400000000) AS day
        |            FROM events
        |            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |            GROUP BY user_id),
        |  d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |        FROM fd GROUP BY day)
        |SELECT day, new_users,
        |       CAST(sum(new_users) OVER (ORDER BY day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS cum_users
        |FROM d""".stripMargin,

    // Peak rate: the same value-RANGE window anchored at every event,
    // top-20 under (peak desc, user_id).
    "x214_peak_rate" ->
      """WITH e AS (SELECT user_id,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |           FROM events
        |           WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |  w AS (SELECT user_id, CAST(count(*) OVER (
        |               PARTITION BY user_id ORDER BY us
        |               RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW)
        |             AS BIGINT) AS c
        |        FROM e),
        |  p AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |               max(c) AS peak_60s
        |        FROM w GROUP BY user_id)
        |SELECT user_id, n_events, peak_60s
        |FROM p ORDER BY peak_60s DESC, user_id LIMIT 20""".stripMargin,

    // BFS hop depth: the x18 pair closure symmetrized, then generated
    // frontier rounds from the smallest source's documents.
    "x216_bfs_depth" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS MATERIALIZED (
         |    SELECT i.a_id, i.b_id
         |    FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 7 * (sa.sz + sb.sz - i.i)),
         |  e0 AS MATERIALIZED (
         |    SELECT a_id AS src, b_id AS dst FROM pairs
         |    UNION ALL SELECT b_id, a_id FROM pairs),
         |  v0 AS MATERIALIZED (
         |    SELECT DISTINCT doc_id AS node, CAST(0 AS BIGINT) AS depth
         |    FROM documents
         |    WHERE source = (SELECT min(source) FROM documents)),
         |${bfsRounds(4)}
         |SELECT node, CAST(depth AS BIGINT) AS depth FROM v4""".stripMargin,

    // Threshold sweep: the full shared-shingle pair set re-cut per
    // threshold, explicit zero rows via the threshold-list left join.
    "x217_threshold_sweep" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  tl AS (SELECT unnest([5, 6, 7, 8, 9]) AS t),
         |  fl AS (SELECT tl.t, i.a_id, i.b_id
         |         FROM inter i
         |         JOIN sz sa ON sa.doc_id = i.a_id
         |         JOIN sz sb ON sb.doc_id = i.b_id
         |         CROSS JOIN tl
         |         WHERE 10 * i.i >= tl.t * (sa.sz + sb.sz - i.i)),
         |  p AS (SELECT t, CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM fl GROUP BY t),
         |  d AS (SELECT t, CAST(count(*) AS BIGINT) AS n_docs FROM (
         |          SELECT DISTINCT t, doc FROM (
         |            SELECT t, a_id AS doc FROM fl
         |            UNION ALL SELECT t, b_id FROM fl))
         |        GROUP BY t)
         |SELECT CAST(tl.t AS BIGINT) AS threshold_tenths,
         |       coalesce(p.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
         |       coalesce(d.n_docs, CAST(0 AS BIGINT)) AS n_docs
         |FROM tl LEFT JOIN p USING (t) LEFT JOIN d USING (t)""".stripMargin,

    // Top-k with Others: identical rank cut, residual fold, quoted
    // "rank" alias.
    "x219_topk_others" ->
      """WITH f AS (SELECT r_name AS grp, n_name AS key,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    AS cents
        |           FROM orders
        |           JOIN customer ON c_custkey = o_custkey
        |           JOIN nation ON n_nationkey = c_nationkey
        |           JOIN region ON r_regionkey = n_regionkey
        |           WHERE o_totalprice IS NOT NULL),
        |  a AS (SELECT grp, key, CAST(count(*) AS BIGINT) AS n_rows,
        |               CAST(sum(cents) AS BIGINT) AS cents
        |        FROM f GROUP BY 1, 2),
        |  r AS (SELECT *, CAST(row_number() OVER (PARTITION BY grp
        |               ORDER BY cents DESC, key) AS BIGINT) AS rnk
        |        FROM a)
        |SELECT grp AS r_name, CAST(key AS VARCHAR) AS bucket,
        |       rnk AS "rank", CAST(1 AS BIGINT) AS n_keys, n_rows, cents
        |FROM r WHERE rnk <= 3
        |UNION ALL
        |SELECT grp, 'Others', CAST(4 AS BIGINT),
        |       CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT),
        |       CAST(sum(cents) AS BIGINT)
        |FROM r WHERE rnk > 3 GROUP BY grp""".stripMargin,

    // Skyline: the INDEPENDENT naive NOT-EXISTS dominance test — a
    // cross-construction of the Spark side's max-per-x reduction.
    "x220_skyline" ->
      """WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
        |                  CAST(len(string_split(coalesce(text, ''), ' '))
        |                       AS BIGINT) AS y
        |           FROM documents WHERE n_chars IS NOT NULL)
        |SELECT b.doc_id, b.x AS n_chars, b.y AS n_tokens
        |FROM b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM b o
        |  WHERE o.x >= b.x AND o.y >= b.y
        |    AND (o.x > b.x OR o.y > b.y))""".stripMargin,

    // nDCG@10: the x180 ranking machinery with the discount and
    // ideal-prefix CASEs GENERATED from Similarity.NdcgDiscountsPpm —
    // one source, no drift.
    // MAP@10: the x221 ranked frame plus a running relevant count;
    // per-hit precision terms as independent integral floors.
    "x268_map_eval" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv,
        |                  label AS q_label
        |           FROM embeddings WHERE vec_id % 50 = 0 AND label IS NOT NULL),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
        |                  label
        |           FROM embeddings),
        |     s AS (SELECT query_id, q_label, vec_id, label,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) *
        |                     sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id
        |             AND list_dot_product(qv, qv) > 0
        |             AND list_dot_product(v, v) > 0),
        |     r AS (SELECT query_id,
        |                  (label IS NOT DISTINCT FROM q_label) AS is_rel,
        |                  CAST(row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
        |           FROM s),
        |     w AS (SELECT query_id, is_rel, rnk,
        |                  CAST(count(*) FILTER (is_rel) OVER (
        |                    PARTITION BY query_id ORDER BY rnk) AS BIGINT)
        |                    AS rel_cnt
        |           FROM r),
        |     a AS (SELECT query_id,
        |                  CAST(count(*) FILTER (is_rel) AS BIGINT)
        |                    AS n_relevant,
        |                  CAST(count(*) FILTER (is_rel AND rnk <= 10)
        |                    AS BIGINT) AS n_rel_top10,
        |                  CAST(coalesce(sum(1000000 * rel_cnt // rnk)
        |                    FILTER (is_rel AND rnk <= 10), 0) AS BIGINT)
        |                    AS ap_micro
        |           FROM w GROUP BY query_id)
        |SELECT query_id, n_relevant, n_rel_top10,
        |       CASE WHEN n_relevant > 0
        |            THEN CAST(ap_micro // least(n_relevant, 10) AS BIGINT)
        |            ELSE 0 END AS ap_ppm
        |FROM a""".stripMargin,

    "x221_ndcg10" -> {
      val disc = graft.ext.Similarity.NdcgDiscountsPpm
      val discCase = disc.zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
      val prefix = disc.scanLeft(0L)(_ + _)
      val prefCase = (0 to 10)
        .map(k => s"WHEN $k THEN ${prefix(k)}").mkString(" ")
      s"""WITH q AS (SELECT vec_id AS query_id,
         |                  list_transform(embedding, x -> x::DOUBLE) AS qv,
         |                  label AS q_label
         |           FROM embeddings WHERE vec_id % 50 = 0 AND label IS NOT NULL),
         |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
         |                  label
         |           FROM embeddings),
         |     s AS (SELECT query_id, q_label, vec_id, label,
         |                  list_dot_product(qv, v) /
         |                    (sqrt(list_dot_product(qv, qv)) *
         |                     sqrt(list_dot_product(v, v))) AS cos
         |           FROM q, c WHERE vec_id <> query_id
         |             AND list_dot_product(qv, qv) > 0
         |             AND list_dot_product(v, v) > 0),
         |     r AS (SELECT query_id,
         |                  (label IS NOT DISTINCT FROM q_label) AS is_rel,
         |                  CAST(row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
         |           FROM s),
         |     a AS (SELECT query_id,
         |                  CAST(count(*) FILTER (is_rel) AS BIGINT)
         |                    AS n_relevant,
         |                  CAST(coalesce(sum(CASE WHEN is_rel AND rnk <= 10
         |                    THEN CASE rnk $discCase END END), 0) AS BIGINT)
         |                    AS dcg_micro
         |           FROM r GROUP BY query_id)
         |SELECT query_id, n_relevant, dcg_micro,
         |       CASE WHEN idcg > 0
         |            THEN CAST(1000000 * dcg_micro // idcg AS BIGINT)
         |            ELSE 0 END AS ndcg_ppm
         |FROM (SELECT *, CAST(CASE least(n_relevant, 10) $prefCase END
         |                     AS BIGINT) AS idcg
         |      FROM a)""".stripMargin
    },

    // Daily trend: identical dense-grid OLS moments, sign-decomposed
    // slope division in HUGEINT.
    "x222_daily_trend" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |  span AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |  grid AS (SELECT unnest(range(d0, d1 + 1)) AS day, d0 FROM span),
        |  ty AS (SELECT DISTINCT event_type FROM dc),
        |  s AS (SELECT ty.event_type, g.day - g.d0 AS x,
        |               coalesce(dc.c, 0) AS y
        |        FROM grid g CROSS JOIN ty
        |        LEFT JOIN dc ON dc.event_type = ty.event_type
        |                    AND dc.day = g.day),
        |  a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
        |               CAST(sum(x) AS BIGINT) AS sx,
        |               CAST(sum(y) AS BIGINT) AS sy,
        |               sum(CAST(x AS HUGEINT) * y) AS sxy,
        |               sum(CAST(x AS HUGEINT) * x) AS sxx
        |        FROM s GROUP BY 1),
        |  b AS (SELECT event_type, m,
        |               m * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |               m * sxx - CAST(sx AS HUGEINT) * sx AS den
        |        FROM a)
        |SELECT event_type, m AS n_days,
        |       CASE WHEN m < 2 OR den <= 0 THEN 0
        |            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |                      (CAST(1000000 AS HUGEINT) * abs(num) // den)
        |                      AS BIGINT) END AS slope_micro
        |FROM b""".stripMargin,

    // Daily value percentiles: the x30 rank-target construction
    // partitioned by (type, day); shared cents idiom.
    "x258_daily_value_p50" ->
      """WITH h AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |c AS (SELECT event_type, day, cents, cnt,
        |             CAST(sum(cnt) OVER (PARTITION BY event_type, day
        |               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM h),
        |t AS (SELECT event_type, day, CAST(sum(cnt) AS BIGINT) AS n,
        |             unnest([50, 90]) AS p
        |      FROM h GROUP BY 1, 2),
        |t2 AS (SELECT event_type, day, n, CAST(p AS INT) AS p,
        |              (p * n + 99) // 100 AS target_rn
        |       FROM t)
        |SELECT c.event_type, c.day, t2.p, t2.n AS n_events,
        |       c.cents AS cents_at_p
        |FROM c JOIN t2 ON c.event_type = t2.event_type AND c.day = t2.day
        |WHERE c.cum >= t2.target_rn AND c.cum - c.cnt < t2.target_rn""".stripMargin,

    // Drawdown: the x87 planted outage mirrored; running peak over
    // the inclusive prefix, per-day floors, max of floors.
    "x263_drawdown" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, ts FROM events
        |  WHERE NOT (event_type = 'click'
        |    AND CAST(ts AS DATE) = DATE '2024-01-08'
        |    AND event_id % 10 <> 0)),
        |dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM ev WHERE ts IS NOT NULL GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |grid AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span),
        |ty AS (SELECT DISTINCT event_type FROM dc),
        |s AS (SELECT ty.event_type, g.day, coalesce(dc.c, 0) AS y
        |      FROM grid g CROSS JOIN ty
        |      LEFT JOIN dc ON dc.event_type = ty.event_type
        |                  AND dc.day = g.day),
        |p AS (SELECT event_type, y,
        |             CAST(max(y) OVER (PARTITION BY event_type
        |               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND CURRENT ROW) AS BIGINT) AS peak
        |      FROM s)
        |SELECT event_type,
        |       CAST(max(peak) AS BIGINT) AS peak_count,
        |       CAST(max(CASE WHEN peak > 0
        |                     THEN 1000000 * (peak - y) // peak
        |                     ELSE 0 END) AS BIGINT) AS max_drawdown_ppm,
        |       CAST(max(peak - y) AS BIGINT) AS max_drop
        |FROM p GROUP BY 1""".stripMargin,

    // Seasonality strength: the planted weekend drop mirrored, then
    // per-type DOW eta2 under the x211 sums-of-floors convention
    // (HUGEINT floors; the clamp hides the one negative-numerator
    // division both engines would floor differently).
    "x257_seasonality" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, ts FROM events
        |  WHERE NOT (event_type = 'view'
        |    AND ((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3)
        |         % 7 + 7) % 7 IN (5, 6)
        |    AND event_id % 5 <> 0)),
        |dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM ev WHERE ts IS NOT NULL GROUP BY 1, 2),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |grid AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span),
        |ty AS (SELECT DISTINCT event_type FROM dc),
        |s AS (SELECT ty.event_type,
        |             ((g.day + 3) % 7 + 7) % 7 + 1 AS weekday,
        |             coalesce(dc.c, 0) AS y
        |      FROM grid g CROSS JOIN ty
        |      LEFT JOIN dc ON dc.event_type = ty.event_type
        |                  AND dc.day = g.day),
        |pw AS (SELECT event_type, weekday,
        |              CAST(count(*) AS BIGINT) AS n_w,
        |              CAST(sum(y) AS BIGINT) AS s_w
        |       FROM s GROUP BY 1, 2),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k_groups,
        |               CAST(sum(n_w) AS BIGINT) AS n_days,
        |               CAST(sum(s_w) AS BIGINT) AS s_total,
        |               sum((CAST(s_w AS HUGEINT) * s_w) // n_w) AS t_between
        |        FROM pw GROUP BY 1),
        |qq AS (SELECT event_type, sum(CAST(y AS HUGEINT) * y) AS q_total
        |       FROM s GROUP BY 1),
        |j AS (SELECT per.*, qq.q_total,
        |             (CAST(s_total AS HUGEINT) * s_total) // n_days
        |               AS correction
        |      FROM per JOIN qq USING (event_type))
        |SELECT event_type, n_days,
        |       CASE WHEN n_days < 2 OR k_groups < 2
        |              OR q_total - correction <= 0 THEN 0
        |            ELSE greatest(CAST(0 AS BIGINT),
        |              CAST(CAST(1000000 AS HUGEINT) * (t_between - correction)
        |                   // (q_total - correction) AS BIGINT)) END
        |         AS eta2_ppm
        |FROM j""".stripMargin,

    // Wilson bounds: exact counts into the SAME per-row double tree
    // (identical text and parenthesization — bit-identical IEEE).
    "x253_wilson_ci" ->
      """WITH c AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
        |         CAST(count(*) FILTER (WHERE value >= 50.0) AS BIGINT)
        |           AS n_hit
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |d AS (SELECT event_type, n_total, n_hit,
        |             CAST(n_hit AS DOUBLE) / CAST(n_total AS DOUBLE)
        |               AS p_hat,
        |             CAST(n_total AS DOUBLE) AS nd
        |      FROM c WHERE n_total > 0)
        |SELECT event_type, n_total, n_hit, p_hat,
        |       (p_hat + (1.96*1.96)/(2.0*nd) - 1.96 * sqrt((p_hat*(1.0-p_hat))/nd + (1.96*1.96)/(4.0*nd*nd))) / (1.0 + (1.96*1.96)/nd) AS wilson_low,
        |       (p_hat + (1.96*1.96)/(2.0*nd) + 1.96 * sqrt((p_hat*(1.0-p_hat))/nd + (1.96*1.96)/(4.0*nd*nd))) / (1.0 + (1.96*1.96)/nd) AS wilson_high
        |FROM d""".stripMargin,

    // Theil-Sen: median pairwise slope over the same dense grid; the
    // (num/den DOUBLE, num, den) total order and the lower-median
    // rank (P+1)//2 mirror the Spark carve exactly.
    "x251_theilsen_trend" ->
      """WITH dc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |  span AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
        |  grid AS (SELECT unnest(range(d0, d1 + 1)) AS day, d0 FROM span),
        |  ty AS (SELECT DISTINCT event_type FROM dc),
        |  s AS (SELECT ty.event_type, g.day - g.d0 AS x,
        |               coalesce(dc.c, 0) AS y
        |        FROM grid g CROSS JOIN ty
        |        LEFT JOIN dc ON dc.event_type = ty.event_type
        |                    AND dc.day = g.day),
        |  p AS (SELECT i.event_type,
        |               CAST(j.y - i.y AS BIGINT) AS num,
        |               CAST(j.x - i.x AS BIGINT) AS den
        |        FROM s i JOIN s j ON i.event_type = j.event_type
        |                         AND i.x < j.x),
        |  k AS (SELECT event_type, num / den AS sd, num, den,
        |               CAST(count(*) AS BIGINT) AS cnt
        |        FROM p GROUP BY 1, 2, 3, 4),
        |  cm AS (SELECT event_type, num, den, cnt,
        |                CAST(sum(cnt) OVER (PARTITION BY event_type
        |                  ORDER BY sd, num, den ROWS BETWEEN UNBOUNDED
        |                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |                CAST(sum(cnt) OVER (PARTITION BY event_type)
        |                  AS BIGINT) AS total
        |         FROM k)
        |SELECT event_type, total AS n_pairs,
        |       CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |            (1000000 * abs(num) // den) AS BIGINT) AS slope_micro
        |FROM cm
        |WHERE cum - cnt < (total + 1) // 2
        |  AND (total + 1) // 2 <= cum""".stripMargin,

    // WoW growth: dense weeks, lag window, sign-decomposed rate,
    // NULL on an empty base week.
    "x223_wow_growth" ->
      """WITH wc AS (
        |  SELECT event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |  span AS (SELECT min(week) AS w0, max(week) AS w1 FROM wc),
        |  grid AS (SELECT unnest(range(w0, w1 + 1)) AS week FROM span),
        |  ty AS (SELECT DISTINCT event_type FROM wc),
        |  s AS (SELECT ty.event_type, g.week,
        |               coalesce(wc.c, 0) AS n_events
        |        FROM grid g CROSS JOIN ty
        |        LEFT JOIN wc ON wc.event_type = ty.event_type
        |                    AND wc.week = g.week),
        |  l AS (SELECT event_type, week, n_events,
        |               lag(n_events) OVER (PARTITION BY event_type
        |                                   ORDER BY week) AS prev_events
        |        FROM s)
        |SELECT event_type, week, n_events, prev_events,
        |       CASE WHEN prev_events IS NULL OR prev_events = 0 THEN NULL
        |            ELSE CAST((CASE WHEN n_events < prev_events
        |                       THEN -1 ELSE 1 END) *
        |                      (1000000 * abs(n_events - prev_events)
        |                       // prev_events) AS BIGINT) END AS growth_ppm
        |FROM l""".stripMargin,

    // Bag dedup: identical two-digest construction; DuckDB sorts the
    // token list with list_sort (binary order, same as array_sort).
    "x224_bag_dedup" ->
      """WITH b AS (SELECT doc_id,
        |                  md5(coalesce(text, '')) AS ex_h,
        |                  md5(array_to_string(
        |                        list_sort(string_split(coalesce(text, ''),
        |                                               ' ')), ' ')) AS bag_h
        |           FROM documents),
        |  e AS (SELECT ex_h, CAST(count(*) AS BIGINT) AS exact_copies
        |        FROM b GROUP BY 1),
        |  g AS (SELECT bag_h, CAST(count(*) AS BIGINT) AS bag_copies
        |        FROM b GROUP BY 1)
        |SELECT b.doc_id, e.exact_copies, g.bag_copies,
        |       g.bag_copies - e.exact_copies AS reordered_extra
        |FROM b JOIN e USING (ex_h) JOIN g USING (bag_h)""".stripMargin,

    // Cross-language dups: the same planted union, digest group,
    // sorted distinct-label list.
    "x225_crosslang_dups" ->
      """WITH p AS (SELECT doc_id, text, lang FROM documents
        |           UNION ALL
        |           SELECT doc_id + 3000000, text, 'xx' FROM documents
        |           WHERE doc_id % 40 = 0),
        |  g AS (SELECT md5(text) AS h,
        |               CAST(min(doc_id) AS BIGINT) AS keeper_id,
        |               CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |               array_to_string(list_sort(list(DISTINCT lang)), ',')
        |                 AS langs
        |        FROM p WHERE text IS NOT NULL AND lang IS NOT NULL
        |        GROUP BY 1)
        |SELECT keeper_id, n_docs, n_langs, langs
        |FROM g WHERE n_langs > 1""".stripMargin,

    // Audience overlap: distinct (type, user) sets, in-order pair
    // self-join, exact Jaccard ppm.
    "x226_audience_overlap" ->
      """WITH ua AS (SELECT DISTINCT event_type, user_id FROM events
        |            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |              AND event_type IS NOT NULL),
        |  sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |         FROM ua GROUP BY 1),
        |  pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |                CAST(count(*) AS BIGINT) AS n_common
        |         FROM ua a JOIN ua b USING (user_id)
        |         WHERE a.event_type < b.event_type
        |         GROUP BY 1, 2)
        |SELECT pr.type_a, pr.type_b, sa.n AS n_a, sb.n AS n_b,
        |       pr.n_common,
        |       1000000 * pr.n_common // (sa.n + sb.n - pr.n_common)
        |         AS jaccard_ppm
        |FROM pr
        |JOIN sz sa ON sa.event_type = pr.type_a
        |JOIN sz sb ON sb.event_type = pr.type_b""".stripMargin,

    // EWMA trend: identical dense zero-filled grid, identical
    // sums-of-floors via >> on non-negative counts.
    "x227_ewma_trend" ->
      """WITH daily AS (
        |    SELECT event_type,
        |           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |           CAST(count(*) AS BIGINT) AS c
        |    FROM events
        |    WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |    GROUP BY 1, 2),
        |  bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |  grid AS (SELECT unnest(generate_series(d0, d1)) AS day
        |           FROM bounds),
        |  ty AS (SELECT DISTINCT event_type FROM daily),
        |  dense AS (SELECT t.event_type, g.day,
        |                   CAST(coalesce(d.c, 0) AS BIGINT) AS c
        |            FROM ty t CROSS JOIN grid g
        |            LEFT JOIN daily d ON d.event_type = t.event_type
        |                             AND d.day = g.day),
        |  lags AS (SELECT CAST(j AS BIGINT) AS j FROM range(0, 21) t(j))
        |SELECT a.event_type, a.day, a.c AS n_events,
        |       CAST(sum(s.c >> (l.j + 1)) AS BIGINT) AS ewma
        |FROM dense a
        |CROSS JOIN lags l
        |JOIN dense s ON s.event_type = a.event_type
        |            AND s.day = a.day - l.j
        |GROUP BY 1, 2, 3""".stripMargin,

    // Script-mix audit: identical plant, RE2 script classes mirror
    // Java's Is-prefixed ones, ppm over summed letter mass.
    "x228_script_mix" ->
      """WITH d AS (
        |    SELECT source,
        |           coalesce(CASE WHEN doc_id % 41 = 0
        |                         THEN coalesce(text, '') || ' Привет مرحبا'
        |                         ELSE text END, '') AS t
        |    FROM documents WHERE source IS NOT NULL),
        |  p AS (SELECT source,
        |               CAST(length(t) - length(regexp_replace(t,
        |                    '\p{Latin}', '', 'g')) AS BIGINT) AS lat,
        |               CAST(length(t) - length(regexp_replace(t,
        |                    '\p{Han}', '', 'g')) AS BIGINT) AS han,
        |               CAST(length(t) - length(regexp_replace(t,
        |                    '\p{Cyrillic}', '', 'g')) AS BIGINT) AS cyr,
        |               CAST(length(t) - length(regexp_replace(t,
        |                    '\p{Arabic}', '', 'g')) AS BIGINT) AS ara
        |        FROM d),
        |  m AS (SELECT source, lat, han, cyr, ara,
        |               lat + han + cyr + ara AS letters,
        |               (CASE WHEN lat * 20 >= lat + han + cyr + ara
        |                      AND lat > 0 THEN 1 ELSE 0 END)
        |             + (CASE WHEN han * 20 >= lat + han + cyr + ara
        |                      AND han > 0 THEN 1 ELSE 0 END)
        |             + (CASE WHEN cyr * 20 >= lat + han + cyr + ara
        |                      AND cyr > 0 THEN 1 ELSE 0 END)
        |             + (CASE WHEN ara * 20 >= lat + han + cyr + ara
        |                      AND ara > 0 THEN 1 ELSE 0 END) AS n_scripts
        |        FROM p)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(letters) AS BIGINT) AS letters,
        |       CAST(CASE WHEN sum(letters) > 0 THEN
        |            CAST(sum(lat) AS HUGEINT) * 1000000 // sum(letters)
        |            ELSE 0 END AS BIGINT) AS lat_ppm,
        |       CAST(CASE WHEN sum(letters) > 0 THEN
        |            CAST(sum(han) AS HUGEINT) * 1000000 // sum(letters)
        |            ELSE 0 END AS BIGINT) AS han_ppm,
        |       CAST(CASE WHEN sum(letters) > 0 THEN
        |            CAST(sum(cyr) AS HUGEINT) * 1000000 // sum(letters)
        |            ELSE 0 END AS BIGINT) AS cyr_ppm,
        |       CAST(CASE WHEN sum(letters) > 0 THEN
        |            CAST(sum(ara) AS HUGEINT) * 1000000 // sum(letters)
        |            ELSE 0 END AS BIGINT) AS ara_ppm,
        |       CAST(sum(CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_mixed_docs
        |FROM m GROUP BY source""".stripMargin,

    // Forward-fill: identical dense grid, running max of observed
    // days, join-back on the carried day (never IGNORE NULLS).
    "x230_forward_fill" ->
      """WITH daily AS (
        |    SELECT event_type,
        |           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |                AS BIGINT) AS day_cents
        |    FROM events
        |    WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |      AND value IS NOT NULL
        |    GROUP BY 1, 2),
        |  bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |  grid AS (SELECT unnest(generate_series(d0, d1)) AS day
        |           FROM bounds),
        |  ty AS (SELECT DISTINCT event_type FROM daily),
        |  dense AS (SELECT t.event_type, g.day, d.day_cents
        |            FROM ty t CROSS JOIN grid g
        |            LEFT JOIN daily d ON d.event_type = t.event_type
        |                             AND d.day = g.day),
        |  f AS (SELECT event_type, day, day_cents,
        |               max(CASE WHEN day_cents IS NOT NULL THEN day END)
        |                 OVER (PARTITION BY event_type ORDER BY day
        |                       ROWS BETWEEN UNBOUNDED PRECEDING
        |                       AND CURRENT ROW) AS last_day
        |        FROM dense)
        |SELECT f.event_type, f.day, f.day_cents, f.last_day,
        |       f.day - f.last_day AS age_days,
        |       d2.day_cents AS filled_cents
        |FROM f
        |LEFT JOIN daily d2 ON d2.event_type = f.event_type
        |                  AND d2.day = f.last_day""".stripMargin,

    // Heavy hitters: the oracle states the SPEC naively (full groupBy
    // + threshold) — the bounded-state MG candidate pass is the
    // engine's scale construction, proved superset by ExtSpec.
    "x231_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(coalesce(text, ''), ' '))
        |                  AS token
        |           FROM documents),
        |  tt AS (SELECT token FROM t WHERE length(token) > 0),
        |  n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tt),
        |  g AS (SELECT token, CAST(count(*) AS BIGINT) AS n_token
        |        FROM tt GROUP BY 1)
        |SELECT g.token, g.n_token, n.n_total,
        |       CAST(CAST(g.n_token AS HUGEINT) * 1000000 // n.n_total
        |            AS BIGINT) AS share_ppm
        |FROM g, n WHERE g.n_token * 64 > n.n_total""".stripMargin,

    // LSH tuning curve: brute-force exact pairs at j >= 1/2 (the
    // engine's prefix filter is recall-1.0 at the same cut — a
    // cross-construction), identical CASE-descent bucketing and
    // staged-squaring S-curve floors.
    "x232_lsh_tuning" ->
      s"""WITH $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS MATERIALIZED (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  p AS (SELECT i.i, (sa.sz + sb.sz - i.i) AS u
         |        FROM inter i
         |        JOIN sz sa ON sa.doc_id = i.a_id
         |        JOIN sz sb ON sb.doc_id = i.b_id
         |        WHERE 2 * i.i >= sa.sz + sb.sz - i.i),
         |  bk AS (SELECT CASE WHEN i * 10 >= u * 9 THEN 9
         |                     WHEN i * 10 >= u * 8 THEN 8
         |                     WHEN i * 10 >= u * 7 THEN 7
         |                     WHEN i * 10 >= u * 6 THEN 6
         |                     ELSE 5 END AS bucket
         |         FROM p),
         |  c AS (SELECT CAST(bucket AS BIGINT) AS bucket,
         |               CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM bk GROUP BY 1),
         |  b AS (SELECT CAST(d AS BIGINT) AS bucket,
         |               CAST(d * 100000 + 50000 AS BIGINT) AS mid_ppm
         |        FROM range(5, 10) t(d)),
         |  t1 AS (SELECT bucket, mid_ppm,
         |                (mid_ppm * mid_ppm) // 1000000 AS s2 FROM b),
         |  t2 AS (SELECT bucket, mid_ppm, (s2 * s2) // 1000000 AS s4
         |         FROM t1),
         |  t3 AS (SELECT bucket, mid_ppm, 1000000 - s4 AS q1 FROM t2),
         |  t4 AS (SELECT bucket, mid_ppm, q1, (q1 * q1) // 1000000 AS q2
         |         FROM t3),
         |  t5 AS (SELECT bucket, mid_ppm, (q2 * q2) // 1000000 AS q4
         |         FROM t4),
         |  t6 AS (SELECT bucket, mid_ppm, (q4 * q4) // 1000000 AS q8
         |         FROM t5),
         |  t7 AS (SELECT bucket, mid_ppm, (q8 * q8) // 1000000 AS q16
         |         FROM t6)
         |SELECT t7.bucket, t7.mid_ppm,
         |       coalesce(c.n_pairs, 0) AS n_pairs,
         |       1000000 - t7.q16 AS theo_detect_ppm
         |FROM t7 LEFT JOIN c ON c.bucket = t7.bucket""".stripMargin,

    // Vocabulary coverage curve: identical (count desc, token) total
    // order, running sum over the vocab histogram.
    "x233_vocab_curve" ->
      """WITH t AS (SELECT unnest(string_split(coalesce(text, ''), ' '))
        |                  AS token
        |           FROM documents),
        |  g AS (SELECT token, CAST(count(*) AS BIGINT) AS n_token
        |        FROM t WHERE length(token) > 0 GROUP BY 1),
        |  r AS (SELECT token, n_token,
        |               CAST(row_number() OVER
        |                    (ORDER BY n_token DESC, token) AS BIGINT)
        |                 AS v_rank,
        |               sum(n_token) OVER
        |                    (ORDER BY n_token DESC, token
        |                     ROWS BETWEEN UNBOUNDED PRECEDING
        |                     AND CURRENT ROW) AS run,
        |               sum(n_token) OVER () AS n_total
        |        FROM g)
        |SELECT v_rank, token, n_token,
        |       CAST(CAST(run AS HUGEINT) * 1000000 // n_total AS BIGINT)
        |         AS covered_ppm
        |FROM r WHERE v_rank <= 1000""".stripMargin,

    // Transition dwell: identical (us, event_id) total order, dwell
    // floored to seconds before the histogram-rank carve.
    "x234_transition_dwell" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |           FROM events
        |           WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |             AND event_type IS NOT NULL),
        |  g0 AS (SELECT lag(event_type) OVER w AS from_type,
        |                event_type AS to_type,
        |                (us - lag(us) OVER w) // 1000000 AS dwell_s
        |         FROM e
        |         WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |  g AS (SELECT * FROM g0 WHERE from_type IS NOT NULL),
        |  hist AS (SELECT from_type, to_type, dwell_s,
        |                  CAST(count(*) AS BIGINT) AS cnt
        |           FROM g GROUP BY 1, 2, 3),
        |  cum AS (SELECT from_type, to_type, dwell_s, cnt,
        |                 CAST(sum(cnt) OVER (
        |                      PARTITION BY from_type, to_type
        |                      ORDER BY dwell_s ROWS UNBOUNDED PRECEDING)
        |                    AS BIGINT) AS cum
        |          FROM hist),
        |  tg AS (SELECT from_type, to_type,
        |                CAST(sum(cnt) AS BIGINT) AS n
        |         FROM hist GROUP BY 1, 2),
        |  tt AS (SELECT from_type, to_type, n, p,
        |                (p * n + 99) // 100 AS target_rn
        |         FROM tg, (SELECT unnest([50, 90]) AS p))
        |SELECT c.from_type, c.to_type, t.p,
        |       t.n AS n_transitions, c.dwell_s AS dwell_s_at_p
        |FROM cum c JOIN tt t USING (from_type, to_type)
        |WHERE c.cum >= t.target_rn
        |  AND c.cum - c.cnt < t.target_rn""".stripMargin,

    // Keeper policies: the x46 recursive closure + quality spelling,
    // three independent ranked picks, one component rollup.
    "x235_keeper_policies" ->
      s"""WITH RECURSIVE $shingleCte,
         |  ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |  sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
         |  inter AS (
         |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |           CAST(count(*) AS BIGINT) AS i
         |    FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2),
         |  pairs AS (
         |    SELECT a_id, b_id FROM inter i
         |    JOIN sz sa ON sa.doc_id = i.a_id
         |    JOIN sz sb ON sb.doc_id = i.b_id
         |    WHERE 10 * i.i >= 8 * (sa.sz + sb.sz - i.i)),
         |  e AS (SELECT a_id AS a, b_id AS b FROM pairs
         |        UNION SELECT b_id, a_id FROM pairs),
         |  reach(a, b) AS (
         |    SELECT a, b FROM e
         |    UNION
         |    SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         |  comp AS (SELECT n.a AS doc_id, least(min(r.b), n.a) AS component
         |           FROM (SELECT DISTINCT a FROM e) n JOIN reach r ON r.a = n.a
         |           GROUP BY n.a),
         |  m AS (SELECT doc_id,
         |          len(string_split(text, ' ')) AS n_tokens,
         |          len(list_filter(string_split(text, ' '),
         |              t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop,
         |          length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct,
         |          length(text) AS n_chars
         |        FROM documents),
         |  q AS (SELECT doc_id,
         |          (CASE WHEN n_tokens < 5 THEN 0.0
         |                ELSE 1.0 - (CASE WHEN n_chars = 0 THEN 0e0
         |                            ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 2.0
         |                     + least((CAST(n_stop AS DOUBLE) / n_tokens) * 1.5, 0.3)
         |           END) AS quality_score
         |        FROM m),
         |  nk AS (SELECT doc_id,
         |                CAST(length(coalesce(text, '')) AS BIGINT) AS kp_chars
         |         FROM documents),
         |  ranked AS (
         |    SELECT c.component, c.doc_id,
         |           row_number() OVER (PARTITION BY c.component
         |                ORDER BY q.quality_score DESC, c.doc_id) AS rq,
         |           row_number() OVER (PARTITION BY c.component
         |                ORDER BY k.kp_chars DESC, c.doc_id) AS rl
         |    FROM comp c JOIN q USING (doc_id) JOIN nk k USING (doc_id)),
         |  agg AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members,
         |                 min(doc_id) AS keep_min_id,
         |                 min(CASE WHEN rq = 1 THEN doc_id END)
         |                   AS keep_best_quality,
         |                 min(CASE WHEN rl = 1 THEN doc_id END)
         |                   AS keep_longest
         |          FROM ranked GROUP BY 1)
         |SELECT component, n_members, keep_min_id, keep_best_quality,
         |       keep_longest,
         |       CAST(len(list_distinct([keep_min_id, keep_best_quality,
         |            keep_longest])) AS BIGINT) AS n_distinct_keepers
         |FROM agg""".stripMargin,

    // Pack efficiency: the x22 assignment verbatim, sequence rollup,
    // shard rollup.
    "x236_pack_efficiency" ->
      """WITH p AS (
        |    SELECT doc_id, shard, n_tokens,
        |           CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_idx
        |    FROM (SELECT doc_id, shard, n_tokens,
        |            sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |                                ROWS UNBOUNDED PRECEDING) AS cum
        |          FROM (SELECT doc_id,
        |                  ('0x' || substr(md5(text || 'pack-v1'), 1, 8))::BIGINT
        |                    % 32 AS shard,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT)
        |                    AS n_tokens
        |                FROM documents))),
        |  s AS (SELECT shard, seq_idx,
        |               CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |               CAST(count(*) AS BIGINT) AS n_docs
        |        FROM p GROUP BY 1, 2)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_seqs,
        |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |       CAST(sum(seq_tokens) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN seq_tokens > 2048 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_overflow_seqs,
        |       CAST(max(seq_tokens) AS BIGINT) AS max_seq_tokens,
        |       CAST(CAST(sum(seq_tokens) AS HUGEINT) * 1000000
        |            // (count(*) * 2048) AS BIGINT) AS fill_ppm
        |FROM s GROUP BY shard""".stripMargin,

    // SRM check: the x110 md5 arm assignment, per-arm chi^2 floors in
    // HUGEINT, fixed 95% df=1 critical literal.
    "x237_srm_check" ->
      """WITH b AS (
        |  SELECT ('0x' || substr(md5('exp1:' || CAST(c_custkey AS VARCHAR)),
        |                         1, 8))::BIGINT % 1000 AS bucket
        |  FROM customer WHERE c_custkey IS NOT NULL),
        |  a AS (SELECT CASE WHEN bucket < 500 THEN 'control'
        |               ELSE 'treatment' END AS arm FROM b),
        |  c AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_units
        |        FROM a GROUP BY 1),
        |  p AS (SELECT * FROM (VALUES ('control', CAST(500 AS BIGINT)),
        |                              ('treatment', CAST(500 AS BIGINT)))
        |        t(arm, ppt)),
        |  tt AS (SELECT CAST(sum(n_units) AS BIGINT) AS n_total FROM c),
        |  terms AS (
        |    SELECT tt.n_total,
        |           CAST(1000000 AS HUGEINT) *
        |             (1000 * CAST(c.n_units AS HUGEINT)
        |              - CAST(tt.n_total AS HUGEINT) * p.ppt) *
        |             (1000 * CAST(c.n_units AS HUGEINT)
        |              - CAST(tt.n_total AS HUGEINT) * p.ppt)
        |           // (1000 * CAST(tt.n_total AS HUGEINT) * p.ppt)
        |             AS term
        |    FROM c JOIN p USING (arm), tt)
        |SELECT n_total, CAST(sum(term) AS BIGINT) AS chi2_micro,
        |       CAST(CASE WHEN sum(term) > 3841459 THEN 1 ELSE 0 END
        |            AS BIGINT) AS srm_detected
        |FROM terms GROUP BY n_total""".stripMargin,

    // Error budget: dense grid, rolling 7-day RANGE window, NULL
    // ratios on zero-traffic days.
    "x238_error_budget" ->
      """WITH daily AS (
        |    SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |           CAST(count(*) AS BIGINT) AS n,
        |           CAST(sum(CASE WHEN event_type = 'error' THEN 1
        |                    ELSE 0 END) AS BIGINT) AS errs
        |    FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |  bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |  grid AS (SELECT unnest(generate_series(d0, d1)) AS day
        |           FROM bounds),
        |  dense AS (SELECT g.day, coalesce(d.n, 0) AS n,
        |                   coalesce(d.errs, 0) AS errs
        |            FROM grid g LEFT JOIN daily d ON d.day = g.day),
        |  r AS (SELECT day, n, errs,
        |               CAST(sum(n) OVER (ORDER BY day
        |                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |                  AS BIGINT) AS n7,
        |               CAST(sum(errs) OVER (ORDER BY day
        |                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |                  AS BIGINT) AS e7
        |        FROM dense)
        |SELECT day, CAST(n AS BIGINT) AS n, CAST(errs AS BIGINT) AS errs,
        |       CASE WHEN n > 0 THEN
        |            CAST(CAST(errs AS HUGEINT) * 1000000 // n AS BIGINT)
        |       END AS err_ppm,
        |       CASE WHEN n7 > 0 THEN
        |            CAST(CAST(e7 AS HUGEINT) * 1000000 // n7 AS BIGINT)
        |       END AS burn7_ppm,
        |       CAST(CASE WHEN n7 > 0 AND
        |                 CAST(e7 AS HUGEINT) * 1000000 // n7 > 20000
        |            THEN 1 ELSE 0 END AS BIGINT) AS breach
        |FROM r""".stripMargin,

    // Subsampled median: the x210 one-hash bit membership, P50 via
    // the ranked window per replicate.
    "x239_subsample_p50" ->
      """WITH v AS (SELECT ('0x' || substr(md5('ci|' || o_orderkey), 1, 8))
        |                    ::BIGINT AS h,
        |                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                    AS v
        |           FROM orders WHERE o_totalprice IS NOT NULL),
        |  e AS (SELECT h, v, r.rep FROM v, range(0, 32) r(rep)),
        |  kept AS (SELECT rep, v FROM e WHERE (h >> rep) & 1 = 0),
        |  hist AS (SELECT rep, v, CAST(count(*) AS BIGINT) AS cnt
        |           FROM kept GROUP BY 1, 2),
        |  cum AS (SELECT rep, v, cnt,
        |                 CAST(sum(cnt) OVER (PARTITION BY rep ORDER BY v
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |          FROM hist),
        |  tg AS (SELECT rep, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |                (50 * CAST(sum(cnt) AS BIGINT) + 99) // 100
        |                  AS target_rn
        |         FROM hist GROUP BY 1)
        |SELECT CAST(c.rep AS BIGINT) AS rep, t.n_rows, c.v AS p50
        |FROM cum c JOIN tg t USING (rep)
        |WHERE c.cum >= t.target_rn
        |  AND c.cum - c.cnt < t.target_rn""".stripMargin,

    // Join-size forecast: two key histograms, product in HUGEINT,
    // top-10 under (out_rows desc, key) plus the NULL-key total row.
    "x240_join_forecast" ->
      """WITH a AS (SELECT CAST(user_id AS VARCHAR) AS join_key,
        |                  CAST(count(*) AS BIGINT) AS left_rows
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |  b AS (SELECT CAST(o_custkey AS VARCHAR) AS join_key,
        |               CAST(count(*) AS BIGINT) AS right_rows
        |        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |  p AS (SELECT a.join_key, a.left_rows, b.right_rows,
        |               CAST(a.left_rows AS HUGEINT) * b.right_rows
        |                 AS outd
        |        FROM a JOIN b USING (join_key)),
        |  top AS (SELECT join_key, left_rows, right_rows,
        |                 CAST(outd AS BIGINT) AS out_rows,
        |                 CAST(0 AS BIGINT) AS is_total
        |          FROM p ORDER BY outd DESC, join_key LIMIT 10),
        |  tot AS (SELECT CAST(NULL AS VARCHAR) AS join_key,
        |                 CAST(count(*) AS BIGINT) AS left_rows,
        |                 CAST(count(*) AS BIGINT) AS right_rows,
        |                 CAST(sum(outd) AS BIGINT) AS out_rows,
        |                 CAST(1 AS BIGINT) AS is_total
        |          FROM p)
        |SELECT * FROM top UNION ALL SELECT * FROM tot""".stripMargin,

    // Change decomposition: data-derived split day (the x176
    // convention), floored per-order means, residual visible.
    "x241_change_decomposition" ->
      """WITH base AS (
        |    SELECT o_orderpriority AS segment,
        |           epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |             // 86400000000 AS day,
        |           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |             AS cents
        |    FROM orders
        |    WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL),
        |  sp AS (SELECT min(day) + (max(day) - min(day)) // 2 AS split
        |         FROM base),
        |  g AS (SELECT segment,
        |               CAST(sum(CASE WHEN day < split THEN 1 ELSE 0 END)
        |                    AS BIGINT) AS n1,
        |               CAST(sum(CASE WHEN day < split THEN cents
        |                        ELSE 0 END) AS BIGINT) AS rev1,
        |               CAST(sum(CASE WHEN day >= split THEN 1 ELSE 0 END)
        |                    AS BIGINT) AS n2,
        |               CAST(sum(CASE WHEN day >= split THEN cents
        |                        ELSE 0 END) AS BIGINT) AS rev2
        |        FROM base, sp GROUP BY 1),
        |  r AS (SELECT *,
        |               CASE WHEN n1 > 0 THEN rev1 // n1 ELSE 0 END AS r1,
        |               CASE WHEN n2 > 0 THEN rev2 // n2 ELSE 0 END AS r2
        |        FROM g)
        |SELECT segment, n1, n2, rev1, rev2,
        |       rev2 - rev1 AS delta_cents,
        |       (n2 - n1) * r1 AS vol_effect,
        |       n2 * (r2 - r1) AS rate_effect,
        |       rev2 - rev1 - (n2 - n1) * r1 - n2 * (r2 - r1) AS residual
        |FROM r""".stripMargin,

    // Embedding threshold sweep: identical plant ladder, the
    // IDENTICAL cosine expression tree (list_dot_product ==
    // vec_dot bit-for-bit, the q15 pin), zero rows explicit.
    "x242_embed_sweep" ->
      """WITH base AS (
        |    SELECT vec_id, label,
        |           list_transform(embedding, x -> x::DOUBLE) AS v
        |    FROM embeddings
        |    WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |  plants AS (SELECT k, CAST(a AS DOUBLE) AS a FROM (VALUES
        |             (1, 1.5), (2, 1.2), (3, 0.9), (4, 0.6), (5, 0.33))
        |             p(k, a)),
        |  aug AS (
        |    SELECT vec_id, label, v FROM base
        |    UNION ALL
        |    SELECT b.vec_id + p.k * 1000000, b.label,
        |           list_transform(b.v,
        |             (x, i) -> x * (1.0 + p.a * ((((i - 1) % 2) * 2) - 1)))
        |    FROM base b JOIN plants p ON b.vec_id % 100 = p.k),
        |  wn AS (SELECT vec_id, label, v, list_dot_product(v, v) AS n2
        |         FROM aug),
        |  wnz AS (SELECT * FROM wn WHERE n2 > 0),
        |  cos AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |                 list_dot_product(a.v, b.v)
        |                   / (sqrt(a.n2) * sqrt(b.n2)) AS c
        |          FROM wnz a JOIN wnz b ON a.label = b.label
        |                               AND a.vec_id < b.vec_id),
        |  th AS (SELECT unnest([50, 60, 70, 80, 90]) AS threshold),
        |  pc AS (SELECT t.threshold, CAST(count(*) AS BIGINT) AS n_pairs
        |         FROM cos c JOIN th t ON c.c >= t.threshold / 100.0
        |         GROUP BY 1),
        |  tv AS (SELECT t.threshold,
        |                CAST(count(DISTINCT u.vid) AS BIGINT) AS n_vecs
        |         FROM cos c
        |         JOIN th t ON c.c >= t.threshold / 100.0,
        |              unnest([c.a_id, c.b_id]) u(vid)
        |         GROUP BY 1)
        |SELECT CAST(t.threshold AS BIGINT) AS threshold,
        |       coalesce(pc.n_pairs, 0) AS n_pairs,
        |       coalesce(tv.n_vecs, 0) AS n_vecs
        |FROM th t
        |LEFT JOIN pc ON pc.threshold = t.threshold
        |LEFT JOIN tv ON tv.threshold = t.threshold""".stripMargin,

    // Winsorized lift: identical global carve bounds, identical md5
    // arms, floored means, sign-decomposed staged lift.
    "x243_winsorized_lift" ->
      """WITH p AS (
        |    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |           CASE WHEN ('0x' || substr(md5('exp1:' ||
        |                CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 1000
        |                < 500 THEN 'control' ELSE 'treatment' END AS arm
        |    FROM events
        |    WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |      AND value IS NOT NULL),
        |  hist AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt
        |           FROM p GROUP BY 1),
        |  cum AS (SELECT cents, cnt,
        |                 CAST(sum(cnt) OVER (ORDER BY cents
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |          FROM hist),
        |  tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
        |  lo AS (SELECT min(cents) AS lo FROM cum, tot
        |         WHERE cum >= (5 * n + 99) // 100),
        |  hi AS (SELECT min(cents) AS hi FROM cum, tot
        |         WHERE cum >= (95 * n + 99) // 100),
        |  w AS (SELECT arm, lo.lo, hi.hi,
        |               least(greatest(cents, lo.lo), hi.hi) AS w
        |        FROM p, lo, hi),
        |  g AS (SELECT lo AS lo_cents, hi AS hi_cents,
        |               CAST(sum(CASE WHEN arm = 'control' THEN 1
        |                        ELSE 0 END) AS BIGINT) AS n_c,
        |               sum(CASE WHEN arm = 'control'
        |                   THEN CAST(w AS HUGEINT)
        |                   ELSE CAST(0 AS HUGEINT) END) AS s_c,
        |               CAST(sum(CASE WHEN arm = 'treatment' THEN 1
        |                        ELSE 0 END) AS BIGINT) AS n_t,
        |               sum(CASE WHEN arm = 'treatment'
        |                   THEN CAST(w AS HUGEINT)
        |                   ELSE CAST(0 AS HUGEINT) END) AS s_t
        |        FROM w GROUP BY 1, 2),
        |  m AS (SELECT lo_cents, hi_cents, n_c, n_t,
        |               CASE WHEN n_c > 0 THEN CAST(s_c // n_c AS BIGINT)
        |                    ELSE 0 END AS mean_c,
        |               CASE WHEN n_t > 0 THEN CAST(s_t // n_t AS BIGINT)
        |                    ELSE 0 END AS mean_t
        |        FROM g)
        |SELECT lo_cents, hi_cents, n_c, n_t, mean_c, mean_t,
        |       CASE WHEN mean_c > 0 THEN
        |            CAST((CASE WHEN mean_t < mean_c THEN -1 ELSE 1 END) *
        |                 (CAST(1000000 AS HUGEINT) * abs(mean_t - mean_c)
        |                  // mean_c) AS BIGINT) END AS lift_ppm
        |FROM m""".stripMargin,

    // CUPED: identical data-derived split, moment machinery in
    // HUGEINT, sign-decomposed theta, staged rho^2.
    "x244_cuped" ->
      """WITH base AS (
        |    SELECT user_id,
        |           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |    FROM events
        |    WHERE event_type = 'purchase' AND ts IS NOT NULL
        |      AND user_id IS NOT NULL AND value IS NOT NULL),
        |  sp AS (SELECT min(day) + (max(day) - min(day)) // 2 AS split
        |         FROM base),
        |  pu AS (SELECT user_id,
        |                CAST(sum(CASE WHEN day < split THEN cents
        |                         ELSE 0 END) AS BIGINT) AS x,
        |                CAST(sum(CASE WHEN day >= split THEN cents
        |                         ELSE 0 END) AS BIGINT) AS y
        |         FROM base, sp GROUP BY 1),
        |  m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(x) AS HUGEINT) AS sx,
        |               CAST(sum(y) AS HUGEINT) AS sy,
        |               sum(CAST(x AS HUGEINT) * x) AS sxx,
        |               sum(CAST(x AS HUGEINT) * y) AS sxy,
        |               sum(CAST(y AS HUGEINT) * y) AS syy
        |        FROM pu),
        |  d AS (SELECT n, n * sxy - sx * sy AS cov,
        |               n * sxx - sx * sx AS varx,
        |               n * syy - sy * sy AS vary
        |        FROM m)
        |SELECT n AS n_users,
        |       CAST(CASE WHEN n < 2 OR varx <= 0 THEN 0
        |            ELSE (CASE WHEN cov < 0 THEN -1 ELSE 1 END) *
        |                 (CAST(1000000 AS HUGEINT) * abs(cov) // varx)
        |            END AS BIGINT) AS theta_ppm,
        |       CAST(CASE WHEN n < 2 OR varx <= 0 OR vary <= 0 THEN 0
        |            ELSE (CAST(1000000 AS HUGEINT) * abs(cov)
        |                  // greatest(varx, vary)) * abs(cov)
        |                 // least(varx, vary)
        |            END AS BIGINT) AS var_reduction_ppm
        |FROM d""".stripMargin,

    // SRM trend: cumulative first-appearance arm entries per day,
    // per-arm chi^2 floors in HUGEINT against the df=1 literal.
    "x245_srm_trend" ->
      """WITH fd AS (SELECT user_id,
        |                   min(epoch_us(CAST(ts AS TIMESTAMP))
        |                       // 86400000000) AS day
        |            FROM events
        |            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |            GROUP BY user_id),
        |  fa AS (SELECT day,
        |                CASE WHEN ('0x' || substr(md5('exp1:' ||
        |                     CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |                     % 1000 < 500 THEN 'control'
        |                ELSE 'treatment' END AS arm
        |         FROM fd),
        |  dc AS (SELECT day, arm, CAST(count(*) AS BIGINT) AS c
        |         FROM fa GROUP BY 1, 2),
        |  bounds AS (SELECT min(epoch_us(CAST(ts AS TIMESTAMP))
        |                        // 86400000000) AS d0,
        |                    max(epoch_us(CAST(ts AS TIMESTAMP))
        |                        // 86400000000) AS d1
        |             FROM events
        |             WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |  grid AS (SELECT unnest(generate_series(d0, d1)) AS day
        |           FROM bounds),
        |  dense AS (SELECT g.day,
        |                   coalesce(c1.c, 0) AS nc, coalesce(c2.c, 0) AS nt
        |            FROM grid g
        |            LEFT JOIN dc c1 ON c1.day = g.day
        |                           AND c1.arm = 'control'
        |            LEFT JOIN dc c2 ON c2.day = g.day
        |                           AND c2.arm = 'treatment'),
        |  r AS (SELECT day,
        |               CAST(sum(nc) OVER (ORDER BY day
        |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
        |               CAST(sum(nt) OVER (ORDER BY day
        |                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_t
        |        FROM dense),
        |  s AS (SELECT day, cum_c, cum_t, cum_c + cum_t AS n FROM r),
        |  t AS (SELECT day, cum_c, cum_t,
        |               CAST(CAST(1000000 AS HUGEINT) *
        |                    (1000 * CAST(cum_c AS HUGEINT) -
        |                     CAST(n AS HUGEINT) * 500) *
        |                    (1000 * CAST(cum_c AS HUGEINT) -
        |                     CAST(n AS HUGEINT) * 500)
        |                    // (1000 * CAST(n AS HUGEINT) * 500)
        |                  + CAST(1000000 AS HUGEINT) *
        |                    (1000 * CAST(cum_t AS HUGEINT) -
        |                     CAST(n AS HUGEINT) * 500) *
        |                    (1000 * CAST(cum_t AS HUGEINT) -
        |                     CAST(n AS HUGEINT) * 500)
        |                    // (1000 * CAST(n AS HUGEINT) * 500)
        |                    AS BIGINT) AS chi2_micro
        |        FROM s)
        |SELECT day, cum_c, cum_t, chi2_micro,
        |       CAST(CASE WHEN chi2_micro > 3841459 THEN 1 ELSE 0 END
        |            AS BIGINT) AS srm_detected
        |FROM t""".stripMargin,

    // Leave-one-out target encoding: identical cents floor, identical
    // self-excluded integral mean, NULL on singleton categories.
    "x229_target_encoding" ->
      """WITH b AS (
        |    SELECT o_orderkey, o_orderpriority AS category,
        |           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |             AS cents
        |    FROM orders
        |    WHERE o_orderpriority IS NOT NULL),
        |  g AS (SELECT category, CAST(count(*) AS BIGINT) AS n_cat,
        |               sum(CAST(cents AS HUGEINT)) AS s_cat
        |        FROM b GROUP BY 1)
        |SELECT b.o_orderkey, b.category, b.cents, g.n_cat,
        |       CASE WHEN g.n_cat > 1 THEN
        |            CAST((g.s_cat - b.cents) // (g.n_cat - 1) AS BIGINT)
        |       END AS loo_mean_cents
        |FROM b JOIN g USING (category)""".stripMargin,

    // HHI: identical squared-count concentration in HUGEINT.
    "x218_hhi" ->
      """WITH c AS (SELECT event_type, user_id,
        |                  CAST(count(*) AS BIGINT) AS c
        |           FROM events
        |           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |           GROUP BY 1, 2),
        |  a AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events,
        |               CAST(count(*) AS BIGINT) AS n_units,
        |               sum(CAST(c AS HUGEINT) * c) AS sum_c2,
        |               CAST(max(c) AS BIGINT) AS max_c
        |        FROM c GROUP BY 1)
        |SELECT event_type, n_events, n_units,
        |       CAST(CAST(1000000 AS HUGEINT) * sum_c2
        |            // (CAST(n_events AS HUGEINT) * n_events) AS BIGINT)
        |         AS hhi_ppm,
        |       CAST(CAST(max_c AS HUGEINT) * 1000000 // n_events AS BIGINT)
        |         AS max_share_ppm
        |FROM a""".stripMargin,

    // Invoice reconciliation: identical per-line double tree floored
    // to cents, per-order sum, status rollup.
    "x215_invoice_reconcile" ->
      """WITH li AS (SELECT l_orderkey AS o_orderkey,
        |                   CAST(sum(CAST(floor(l_extendedprice *
        |                     (1 - l_discount) * (1 + l_tax) * 100 + 0.5)
        |                     AS BIGINT)) AS BIGINT) AS detail_cents,
        |                   CAST(count(*) AS BIGINT) AS n_lines
        |            FROM lineitem GROUP BY 1),
        |  j AS (SELECT o.o_orderstatus,
        |               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
        |                 - coalesce(li.detail_cents, 0) AS delta,
        |               li.n_lines
        |        FROM orders o LEFT JOIN li USING (o_orderkey))
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(coalesce(sum(CASE WHEN delta = 0 THEN 1 END), 0)
        |            AS BIGINT) AS n_matched,
        |       CAST(coalesce(sum(CASE WHEN n_lines IS NULL THEN 1 END), 0)
        |            AS BIGINT) AS n_no_lines,
        |       CAST(coalesce(max(abs(delta)), 0) AS BIGINT)
        |         AS max_abs_delta_cents,
        |       CAST(coalesce(sum(abs(delta)), 0) AS BIGINT)
        |         AS sum_abs_delta_cents
        |FROM j GROUP BY o_orderstatus""".stripMargin,

    // Group mode: the tie policy resolved through a ranked window —
    // the cross-construction of the Spark side's struct argmin.
    "x204_group_mode" ->
      """WITH h AS (
        |  SELECT o_orderstatus, o_orderpriority,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |        ORDER BY cnt DESC, o_orderpriority) AS rn,
        |        CAST(sum(cnt) OVER (PARTITION BY o_orderstatus) AS BIGINT)
        |          AS n_rows,
        |        CAST(count(*) OVER (PARTITION BY o_orderstatus) AS BIGINT)
        |          AS n_distinct
        |      FROM h)
        |SELECT o_orderstatus, o_orderpriority AS mode_value,
        |       cnt AS mode_cnt, n_rows, n_distinct,
        |       1000000 * cnt // n_rows AS mode_share_ppm
        |FROM r WHERE rn = 1""".stripMargin,

    // FD audit: one rollup per candidate over its determinant groups;
    // count(DISTINCT rhs) skips NULL witnesses on both engines.
    "x197_fd_audit" ->
      """WITH f1 AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd
        |            FROM orders GROUP BY o_orderkey),
        |f2 AS (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd
        |       FROM orders GROUP BY o_custkey),
        |f3 AS (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd
        |       FROM orders GROUP BY o_custkey, o_orderstatus)
        |SELECT '(o_orderkey)->o_custkey' AS fd,
        |       CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)
        |            AS BIGINT) AS n_violating,
        |       CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(1000000 *
        |                 coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)
        |                 // count(*) AS BIGINT) END AS violation_ppm,
        |       CAST(coalesce(max(nd), 0) AS BIGINT) AS max_rhs_distinct
        |FROM f1
        |UNION ALL
        |SELECT '(o_custkey)->o_orderpriority',
        |       CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0) AS BIGINT),
        |       CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(1000000 *
        |                 coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)
        |                 // count(*) AS BIGINT) END,
        |       CAST(coalesce(max(nd), 0) AS BIGINT)
        |FROM f2
        |UNION ALL
        |SELECT '(o_custkey,o_orderstatus)->o_orderpriority',
        |       CAST(count(*) AS BIGINT),
        |       CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0) AS BIGINT),
        |       CASE WHEN count(*) = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(1000000 *
        |                 coalesce(sum(CASE WHEN nd > 1 THEN 1 END), 0)
        |                 // count(*) AS BIGINT) END,
        |       CAST(coalesce(max(nd), 0) AS BIGINT)
        |FROM f3""".stripMargin,

    // Table checksum: the same canonical row string, md5-derived
    // 60-bit digests (the x5 hex idiom), per-bucket (count, sum mod
    // 2^31-1) cells on each side, full outer compare.
    "x198_table_checksum" ->
      """WITH dst AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 1009 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 <> 0),
        |sc AS (SELECT
        |         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))
        |           ::BIGINT % 64 AS bucket,
        |         ('0x' || substr(md5(concat_ws('|',
        |            CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |            o_orderstatus,
        |            CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                 AS VARCHAR),
        |            CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |                 AS VARCHAR),
        |            o_orderpriority)), 1, 15))::BIGINT AS dg
        |       FROM orders),
        |dc AS (SELECT
        |         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))
        |           ::BIGINT % 64 AS bucket,
        |         ('0x' || substr(md5(concat_ws('|',
        |            CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
        |            o_orderstatus,
        |            CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |                 AS VARCHAR),
        |            CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP))
        |                 AS VARCHAR),
        |            o_orderpriority)), 1, 15))::BIGINT AS dg
        |       FROM dst),
        |s2 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rows_,
        |              CAST(sum(CAST(dg AS HUGEINT)) % 2147483647
        |                   AS BIGINT) AS chk
        |       FROM sc GROUP BY 1),
        |d2 AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rows_,
        |              CAST(sum(CAST(dg AS HUGEINT)) % 2147483647
        |                   AS BIGINT) AS chk
        |       FROM dc GROUP BY 1)
        |SELECT coalesce(s2.bucket, d2.bucket) AS bucket,
        |       coalesce(s2.rows_, 0) AS src_rows,
        |       coalesce(d2.rows_, 0) AS dst_rows,
        |       coalesce(s2.chk, 0) AS src_check,
        |       coalesce(d2.chk, 0) AS dst_check,
        |       CASE WHEN coalesce(s2.rows_, 0) = coalesce(d2.rows_, 0)
        |                 AND coalesce(s2.chk, 0) = coalesce(d2.chk, 0)
        |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
        |       END AS is_equal
        |FROM s2 FULL JOIN d2 ON s2.bucket = d2.bucket""".stripMargin,

    // BM25: the same rational-coefficient integer form — idf proxy,
    // per-(doc, query-term) HUGEINT division, long-sum score, top-5
    // window under (score DESC, doc_id).
    "x189_bm25_topk" ->
      """WITH tf AS MATERIALIZED (
        |  SELECT doc_id, w AS token, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |               unnest(string_split(COALESCE(text, ''), ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0 GROUP BY doc_id, w),
        |tot AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS a FROM tf),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
        |       FROM tf GROUP BY doc_id),
        |idf AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY token),
        |qt AS (SELECT doc_id AS query_id, token FROM tf
        |       WHERE doc_id % 250 = 0),
        |co AS (SELECT q.query_id, t.doc_id,
        |         (CAST((1000000 * nd.n) // i.df AS HUGEINT)
        |            * t.tf * 22 * tot.a) //
        |         (CAST(10 AS HUGEINT) * tot.a * t.tf
        |            + CAST(3 AS HUGEINT) * tot.a
        |            + CAST(9 AS HUGEINT) * d.dl * nd.n) AS c
        |       FROM tf t JOIN qt q USING (token)
        |            JOIN idf i USING (token)
        |            JOIN dl d ON d.doc_id = t.doc_id
        |            CROSS JOIN tot CROSS JOIN nd
        |       WHERE t.doc_id <> q.query_id),
        |sc AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score
        |       FROM co GROUP BY 1, 2)
        |SELECT query_id, doc_id, "rank", score FROM (
        |  SELECT query_id, doc_id, score,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |              ORDER BY score DESC, doc_id) AS INT) AS "rank"
        |  FROM sc) WHERE "rank" <= 5""".stripMargin,

    // Label propagation: the SAME synchronous recurrence replayed as
    // four chained SQL stages — per iteration the neighbor-label
    // counts and the (cnt DESC, label ASC) argmax via a window (the
    // cross-construction of the Spark side's max-over-struct). The
    // shared stages MUST be AS MATERIALIZED (the x99 lesson: plain
    // CTE inlining re-expands the edge self-join per reference).
    "x188_label_prop" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
        |  FROM li a JOIN li b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT s AS src, t AS dst FROM e0
        |  UNION ALL SELECT t, s FROM e0),
        |l0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, src AS label FROM sym),
        |i1 AS MATERIALIZED (
        |  SELECT src AS node, label FROM (
        |    SELECT src, label, row_number() OVER (PARTITION BY src
        |           ORDER BY cnt DESC, label) AS rn
        |    FROM (SELECT sym.src, l.label,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |          FROM sym JOIN l0 l ON l.node = sym.dst
        |          GROUP BY sym.src, l.label)) WHERE rn = 1),
        |i2 AS MATERIALIZED (
        |  SELECT src AS node, label FROM (
        |    SELECT src, label, row_number() OVER (PARTITION BY src
        |           ORDER BY cnt DESC, label) AS rn
        |    FROM (SELECT sym.src, l.label,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |          FROM sym JOIN i1 l ON l.node = sym.dst
        |          GROUP BY sym.src, l.label)) WHERE rn = 1),
        |i3 AS MATERIALIZED (
        |  SELECT src AS node, label FROM (
        |    SELECT src, label, row_number() OVER (PARTITION BY src
        |           ORDER BY cnt DESC, label) AS rn
        |    FROM (SELECT sym.src, l.label,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |          FROM sym JOIN i2 l ON l.node = sym.dst
        |          GROUP BY sym.src, l.label)) WHERE rn = 1),
        |i4 AS (
        |  SELECT src AS node, label FROM (
        |    SELECT src, label, row_number() OVER (PARTITION BY src
        |           ORDER BY cnt DESC, label) AS rn
        |    FROM (SELECT sym.src, l.label,
        |                 CAST(count(*) AS BIGINT) AS cnt
        |          FROM sym JOIN i3 l ON l.node = sym.dst
        |          GROUP BY sym.src, l.label)) WHERE rn = 1)
        |SELECT node, label FROM i4""".stripMargin,

    // Mutual-NN pairs: both directions' label-blocked cosine top-1
    // (the x3 idioms), reciprocal join, canonical a < b orientation.
    "x187_mutual_knn" ->
      """WITH c AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings WHERE label IS NOT NULL),
        |     s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |                  a.label AS label,
        |                  list_dot_product(a.v, b.v) /
        |                    (sqrt(list_dot_product(a.v, a.v)) *
        |                     sqrt(list_dot_product(b.v, b.v))) AS cos
        |           FROM c a JOIN c b
        |             ON a.label = b.label AND a.vec_id <> b.vec_id),
        |     t AS (SELECT src, dst, label FROM (
        |             SELECT src, dst, label,
        |                    row_number() OVER (PARTITION BY src
        |                        ORDER BY cos DESC, dst) AS rn
        |             FROM s) WHERE rn = 1)
        |SELECT x.src AS a_id, x.dst AS b_id, x.label AS label
        |FROM t x JOIN t y
        |  ON x.dst = y.src AND y.dst = x.src AND x.src < y.src""".stripMargin,

    // Hybrid retrieval: the x120 RRF formula over the x3 dense leg
    // (cos, k=10) UNION the x175 sparse leg re-derived at query mod
    // 50 / top-10 — identical staged-division scores, identical rank
    // tie-breaks, fused top-5.
    "x179_hybrid_retrieval" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |     sd AS (SELECT query_id, vec_id,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) *
        |                     sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id),
        |     r1 AS (SELECT query_id, vec_id AS neighbor_id,
        |                   row_number() OVER (PARTITION BY query_id
        |                        ORDER BY cos DESC, vec_id) AS rnk
        |            FROM sd QUALIFY rnk <= 10),
        |     ndk AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |     tok AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS token
        |             FROM documents),
        |     tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |            FROM tok WHERE len(token) > 0 GROUP BY 1, 2),
        |     idf AS (SELECT token,
        |                    CAST((1000000 * n_docs) // CAST(count(*) AS BIGINT) AS BIGINT) AS idf
        |             FROM tf, ndk GROUP BY token, n_docs),
        |     w AS (SELECT doc_id, token, tf * idf AS w FROM tf JOIN idf USING (token)),
        |     den AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS den
        |             FROM w GROUP BY doc_id),
        |     qw AS (SELECT doc_id AS query_id, token, w AS wq
        |            FROM w WHERE doc_id % 50 = 0),
        |     num AS (SELECT query_id, w.doc_id, sum(CAST(wq AS HUGEINT) * w.w) AS num
        |             FROM qw JOIN w ON qw.token = w.token AND w.doc_id <> qw.query_id
        |             GROUP BY 1, 2),
        |     sps AS (SELECT query_id, num.doc_id,
        |                  CAST(((1000000 * num) // greatest(dq.den, dd.den))
        |                       * num // least(dq.den, dd.den) AS BIGINT) AS score_ppm
        |           FROM num JOIN den dq ON dq.doc_id = query_id
        |                    JOIN den dd ON dd.doc_id = num.doc_id),
        |     r2 AS (SELECT query_id, doc_id AS neighbor_id,
        |                   row_number() OVER (PARTITION BY query_id
        |                        ORDER BY score_ppm DESC, doc_id) AS rnk
        |            FROM sps QUALIFY rnk <= 10),
        |     u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
        |     f AS (SELECT query_id, neighbor_id,
        |                  CAST(count(*) AS BIGINT) AS n_lists,
        |                  CAST(sum(1000000 // (60 + rnk)) AS BIGINT) AS rrf_ppm
        |           FROM u GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, n_lists, rrf_ppm,
        |       CAST(row_number() OVER (PARTITION BY query_id
        |                               ORDER BY rrf_ppm DESC, neighbor_id)
        |            AS INT) AS fused_rank
        |FROM f QUALIFY fused_rank <= 5""".stripMargin,

    // Label-MRR: first same-label rank in the exact cosine order;
    // reciprocal rank by integral division; NULL-label corpus rows
    // occupy ranks but are never relevant.
    "x180_label_mrr" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS qv,
        |                  label AS q_label
        |           FROM embeddings WHERE vec_id % 50 = 0 AND label IS NOT NULL),
        |     c AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
        |                  label
        |           FROM embeddings),
        |     s AS (SELECT query_id, q_label, vec_id, label,
        |                  list_dot_product(qv, v) /
        |                    (sqrt(list_dot_product(qv, qv)) *
        |                     sqrt(list_dot_product(v, v))) AS cos
        |           FROM q, c WHERE vec_id <> query_id
        |             AND list_dot_product(qv, qv) > 0
        |             AND list_dot_product(v, v) > 0),
        |     r AS (SELECT query_id,
        |                  (label IS NOT DISTINCT FROM q_label) AS is_rel,
        |                  CAST(row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
        |           FROM s)
        |SELECT query_id,
        |       CAST(count(*) FILTER (is_rel) AS BIGINT) AS n_relevant,
        |       CAST(min(rnk) FILTER (is_rel) AS BIGINT) AS first_rel_rank,
        |       CAST(coalesce(1000000 // (min(rnk) FILTER (is_rel)), 0) AS BIGINT) AS rr_ppm
        |FROM r GROUP BY query_id""".stripMargin,

    // Churn labels: [split-7d, split) features, [split, split+7d)
    // label window; flooring day buckets on both engines.
    "x181_churn_labels" ->
      """WITH ev AS (SELECT user_id, event_type,
        |                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |            FROM events WHERE ts IS NOT NULL),
        |     sp AS (SELECT min(us) + (max(us) - min(us)) // 2 AS split_us FROM ev),
        |     feat AS (SELECT user_id,
        |                     CAST(count(*) AS BIGINT) AS n_events_w,
        |                     CAST(count(*) FILTER (event_type = 'purchase')
        |                          AS BIGINT) AS n_purchases_w,
        |                     CAST(count(DISTINCT us // 86400000000)
        |                          AS BIGINT) AS days_active_w
        |              FROM ev, sp
        |              WHERE us >= split_us - 604800000000 AND us < split_us
        |              GROUP BY user_id),
        |     seen AS (SELECT DISTINCT user_id FROM ev, sp
        |              WHERE us >= split_us AND us < split_us + 604800000000)
        |SELECT f.user_id, n_events_w, n_purchases_w, days_active_w,
        |       (s.user_id IS NULL) AS churned
        |FROM feat f LEFT JOIN seen s ON f.user_id = s.user_id""".stripMargin,

    // t-closeness: full class-by-category grid (zero cells contribute
    // c_j * n_g — the chi2 lesson), null-safe joins, one terminal
    // integral division per class.
    "x178_t_closeness" ->
      """WITH d AS (SELECT lang, n_chars // 500 AS band, source FROM documents),
        |     cells AS (SELECT lang, band, source, CAST(count(*) AS BIGINT) AS o
        |               FROM d GROUP BY 1, 2, 3),
        |     g AS (SELECT lang, band, CAST(sum(o) AS BIGINT) AS n_g
        |           FROM cells GROUP BY 1, 2),
        |     cats AS (SELECT source, CAST(sum(o) AS BIGINT) AS c_j
        |              FROM cells GROUP BY 1),
        |     tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_total FROM cells),
        |     grid AS (SELECT g.lang, g.band, g.n_g, cats.source, cats.c_j
        |              FROM g CROSS JOIN cats),
        |     obs AS (SELECT grid.lang, grid.band, grid.n_g, grid.c_j,
        |                    CAST(coalesce(cells.o, 0) AS BIGINT) AS o
        |             FROM grid LEFT JOIN cells
        |               ON grid.lang IS NOT DISTINCT FROM cells.lang
        |              AND grid.band IS NOT DISTINCT FROM cells.band
        |              AND grid.source IS NOT DISTINCT FROM cells.source),
        |     dev AS (SELECT lang, band, n_g, n_total,
        |                    sum(abs(CAST(o AS HUGEINT) * n_total
        |                            - CAST(c_j AS HUGEINT) * n_g)) AS devsum
        |             FROM obs, tot GROUP BY 1, 2, 3, 4)
        |SELECT lang, band, n_g,
        |       CAST(1000000 * devsum
        |            // (2 * CAST(n_g AS HUGEINT) * n_total) AS BIGINT) AS tv_ppm,
        |       (CAST(1000000 * devsum
        |             // (2 * CAST(n_g AS HUGEINT) * n_total) AS BIGINT)
        |        > 200000) AS violates
        |FROM dev""".stripMargin)
}
