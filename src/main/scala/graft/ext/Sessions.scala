package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization — the gaps-and-islands companion to the
  * streaming `mapGroupsWithState` sessions (`EventsStream`): replaying
  * history through the batch form must agree with what the stream
  * computed live, so both faces live in the library.
  *
  * All time math is INTEGER microseconds (`unix_micros`), never
  * interval/float arithmetic, so the session boundaries are
  * bit-deterministic across engines (the events fixture stores
  * TIMESTAMP(NANOS); the Spark side reads it through the nanos→NTZ
  * shim, DuckDB's `CAST(ts AS TIMESTAMP)` truncates identically to
  * microseconds — the same recipe q5's oracle established).
  *
  * Scale shape: ONE shuffle on `user_id`; the lag window and the
  * running-sum window share the same (partitionBy, orderBy), so
  * Catalyst evaluates both over a single sort with no second
  * exchange, and the closing groupBy on (user_id, session_idx) is a
  * prefix of that partitioning with map-side partial aggregation.
  * Ordering carries a full (ts, event_id) tiebreak — equal timestamps
  * cannot flip session assignment between runs or engines. Per-user
  * state at 100 TB is a sort run, not memory; a pathological hot user
  * is bounded by their own event count, not the corpus.
  */
object Sessions {

  /** Label every event with its session and aggregate per-session
    * stats: a new session starts when the gap since the user's
    * previous event exceeds `gapMinutes`. Returns one row per
    * (user_id, session_idx) with event count, duration, and the id
    * BOUNDS of the session's events (min/max of event_id — NOT "the
    * temporally first/last event": ids and time need not be aligned
    * under out-of-order ingest, and an order-dependent pick would need
    * engine-identical arg-min semantics the oracle can't guarantee).
    * Events with a NULL timestamp are dropped up front — a session
    * boundary over an unknown time is meaningless, and the engines
    * disagree on NULL ordering (Spark NULLS FIRST, DuckDB NULLS LAST),
    * so keeping them would make session membership engine-dependent. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val labeled = events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs)
          .cast("long"))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    labeled.groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** Trailing-window activity: per (user, day), the event count and the
    * rolling count over the previous `windowDays` days — the RANGE-frame
    * window family (frames over a value axis, not row positions: days
    * with NO events must not shrink the window, which a ROWS frame
    * gets wrong). Day = integer epoch-day of the microsecond timestamp;
    * the frame is `RANGE [day−(windowDays−1), day]` — all integer math.
    *
    * Scale shape: the groupBy reduces the corpus to user×day cardinality
    * FIRST (map-side combinable), so the window's exchange moves the
    * small aggregate, never raw events; per-user frame state is bounded
    * by `windowDays` distinct days. */
  def rollingDaily(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays $windowDays must be positive")
    val daily = events
      .filter(col("ts").isNotNull) // NULL-day ordering differs per engine
      .select(col("user_id"), Stats.day(Stats.EpochUs).as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily.withColumn("n_rolling", sum(col("n_events")).over(w))
  }

  /** Ordered conversion funnel: how many users performed `stages(0)`,
    * then `stages(1)` STRICTLY after it, then `stages(2)` strictly
    * after that, … — the sequence-matching analytics row (each stage's
    * clock starts at the user's EARLIEST completion of the previous
    * stage; strictly-after in integer microseconds, so a same-
    * microsecond pair can never satisfy two stages at once and the
    * boundary is bit-deterministic across engines). NULL-timestamp
    * events are dropped up front (the sessionize rationale). Returns
    * one row per stage: (stage 1-based, event_type, n_users).
    *
    * Scale shape: one min-aggregate per stage, every groupBy and join
    * keyed on `user_id` — the first stage's exchange establishes
    * HashPartitioning(user_id) and each subsequent filter→groupBy→join
    * reuses it (no re-shuffle; the per-stage scans prune to one
    * event_type at the source). Stage count is a literal list, so the
    * plan is `stages.length` narrow legs, not a quadratic self-join;
    * per-user state is one timestamp per stage. */
  def eventFunnel(
      events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val base = events.filter(col("ts").isNotNull && col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    // reached(i): per-user earliest completion time of stage i given
    // the stage-(i-1) clock; fold carries the per-user frame forward
    val first = base.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("us")).as("t"))
    val reached: Seq[DataFrame] = stages.tail.scanLeft(first) { (prev, stage) =>
      base.filter(col("event_type") === stage)
        .join(prev, Seq("user_id"))
        .filter(col("us") > col("t"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t"))
    }
    reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(stages(i)).as("event_type"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** DAU/WAU activity: per active day, the count of distinct users
    * active THAT day (`dau`) and in the trailing `windowDays`-day
    * window ending that day (`wau`) — the engagement/stickiness pair.
    * A windowed DISTINCT cannot be built by summing daily distincts;
    * the scalable form explodes each (user, day) activity row into the
    * `windowDays` window-end days it contributes to, re-distincts, and
    * counts. Only days with at least one active user are reported.
    *
    * Scale shape: activity collapses to DISTINCT (user, day) first —
    * everything downstream moves user×active-day rows, never events.
    * The explode is a bounded ×windowDays blowup of that small frame;
    * both distincts and both groupBys key on (user, day)-shaped keys
    * with map-side partials. No windows, no self-joins — survives any
    * corpus size whose user×day activity fits a shuffle, which is the
    * same bound the raw groupBy already has. */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays > 0, s"windowDays $windowDays must be positive")
    val act = events.filter(col("ts").isNotNull)
      .select(col("user_id"), Stats.day(Stats.EpochUs).as("day"))
      .distinct()
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + (windowDays - 1).toLong))
          .as("wday"))
      .distinct()
      .groupBy(col("wday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day")).select(col("day"), col("dau"), col("wau"))
  }

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent view/click at-or-before it, but only within
    * `windowMinutes` — older touches leave the purchase unattributed
    * (NULL touch columns, the row kept). Composes [[AsofJoin]]'s
    * backward join (ONE shuffle, no range theta-join); touches are
    * first made unique per (user, microsecond) keeping the max
    * event_id, the x12 tie convention, so the pick is deterministic on
    * both engines. The lag rides in integer microseconds.
    *
    * Scale shape: inherits the as-of plan — union + one window pass on
    * `user_id`; the window gate is a post-join per-row predicate, so
    * no second pass and no join-back. */
  def lastTouchAttribution(
      events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    require(windowMinutes > 0, s"window $windowMinutes must be positive")
    val windowUs = windowMinutes.toLong * 60L * 1000000L
    val base = events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("pus"))
    val w = Window.partitionBy(col("user_id"), col("us"))
      .orderBy(col("event_id").desc)
    val touches = base.filter(col("event_type").isin("view", "click"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("us").as("tus"),
        col("event_id").as("touch_id"), col("event_type").as("touch_type"))
    val joined = AsofJoin.asofBackward(purchases, touches,
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "pus", rightTime = "tus",
      rightPayload = Seq("touch_id", "touch_type", "tus"))
    val inWindow = col("touch_id").isNotNull &&
      col("pus") - col("tus") <= windowUs
    joined.select(
      col("purchase_id"), col("user_id"),
      when(inWindow, col("touch_id")).as("touch_id"),
      when(inWindow, col("touch_type")).as("touch_type"),
      when(inWindow, col("pus") - col("tus")).as("lag_us"))
  }

  /** Segment-split conversion funnel: X87's ordered containment
    * computed per DIMENSION SEGMENT — "which customer segment
    * converts", the report that turns a funnel into a targeting
    * decision. The user→segment dimension joins ONCE onto the
    * per-user stage-completion frames (each is one row per reached
    * user), so the segment split costs one broadcast-ready join per
    * stage over already-aggregated frames, never a second events
    * pass. Users missing from the dimension report as segment NULL —
    * "unattributed", not dropped (a funnel that silently loses users
    * undercounts every stage).
    *
    * The dimension is deduplicated to ONE segment per key before the
    * join (`min(segment)`, NULL-skipping — deterministic on any
    * engine): a dimension with duplicate key rows would otherwise
    * fan out every stage frame and inflate each stage's n_users
    * (ADVICE r8 #4). Callers with a versioned dimension should
    * resolve the wanted version upstream (e.g. [[pitLookup]]) —
    * min() is a tie-break, not SCD semantics.
    *
    * Output: (segment, stage 1-based, event_type, n_users). */
  def segmentFunnel(
      events: DataFrame, dim: DataFrame, dimKey: String, segCol: String,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val base = events
      .filter(col("ts").isNotNull && col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val seg = dim.select(col(dimKey).as("user_id"), col(segCol).as("segment"))
      .groupBy(col("user_id")).agg(min(col("segment")).as("segment"))
    val first = base.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("us")).as("t"))
    val reached: Seq[DataFrame] = stages.tail.scanLeft(first) { (prev, stage) =>
      base.filter(col("event_type") === stage)
        .join(prev, Seq("user_id"))
        .filter(col("us") > col("t"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t"))
    }
    reached.zipWithIndex.map { case (df, i) =>
      df.join(seg, Seq("user_id"), "left")
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("segment"), lit(i + 1).as("stage"),
          lit(stages(i)).as("event_type"), col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Lag-feature extraction: per event, the user's PREVIOUS event
    * type and the inter-event gap in microseconds, plus the 1-based
    * per-user sequence index — the row-shaped feature table a
    * downstream model trains on (churn/next-event models want "what
    * did this user just do and how long ago" as columns, not as an
    * aggregate). The per-user order is the (us, event_id) total order
    * (the X180 convention: same-microsecond ties resolve by event_id,
    * so the lag is engine-identical). First events keep their row
    * with NULL lag columns — a model needs the cold-start rows too.
    * NULL-timestamp events are dropped up front (the sessionize
    * rationale).
    *
    * Scale shape: ONE shuffle on `user_id`; the lag and row_number
    * windows share the same (partitionBy, orderBy) so they ride one
    * sort. Output is row-per-event — the caller filters or samples
    * downstream, the operator never collects.
    *
    * Output: (event_id, user_id, event_type, seq_idx, prev_type,
    * gap_us). */
  def lagFeatures(events: DataFrame): DataFrame = {
    val base = events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    base
      .withColumn("seq_idx", row_number().over(w).cast("long"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("seq_idx"), col("prev_type"), col("gap_us"))
  }

  /** Forward conversion lookup: each touch event (default `click`) is
    * joined to the SAME user's next conversion event (default
    * `purchase`) STRICTLY after it — [[lastTouchAttribution]]'s mirror
    * (that one asks "which touch caused this purchase", this asks
    * "did this touch convert, and how long did it take" — the
    * time-to-convert column a/b readouts bucket on). Composes
    * [[AsofJoin.asofForward]] at touch-time+1µs (strictly after); ONE
    * shuffle on `user_id`, no range theta-join. Unconverted touches
    * keep their row with NULL conversion columns. Conversion-side
    * same-microsecond ties resolve to the max event_id via the as-of
    * tiebreak — deterministic on both engines. NULL-timestamp events
    * are dropped up front (the sessionize rationale).
    *
    * Output: (touch_id, user_id, conv_id, lag_us). */
  def nextConversion(
      events: DataFrame,
      touchType: String = "click",
      convType: String = "purchase"): DataFrame = {
    val base = events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val touches = base.filter(col("event_type") === touchType)
      .select(col("event_id").as("touch_id"), col("user_id"),
        col("us").as("tus"))
      .withColumn("tus_p1", col("tus") + 1L)
    val convs = base.filter(col("event_type") === convType)
      .select(col("user_id"), col("us").as("cus"),
        col("event_id").as("conv_id"))
    AsofJoin.asofForward(touches, convs,
      leftKey = "user_id", rightKey = "user_id",
      leftTime = "tus_p1", rightTime = "cus",
      rightPayload = Seq("conv_id", "cus"),
      rightOrder = Seq("conv_id"))
      .select(col("touch_id"), col("user_id"), col("conv_id"),
        (col("cus") - col("tus")).as("lag_us"))
  }

  /** Deadline (conversion-window) funnel: X87's ordered funnel with
    * the product-analytics deadline — stage i counts only if it
    * happens STRICTLY after some valid stage-(i-1) completion AND
    * within `deadlineMinutes` of it. Unlike the unbounded funnel, the
    * earliest-completion greedy is WRONG here (a user whose first
    * stage-1 event is stale may still convert off a later one), so
    * the exact "exists a valid chain" semantics carries the FULL set
    * of valid completion times per stage: S(1) = stage-1 event times;
    * S(i) = stage-i event times t with some t' in S(i-1) in
    * [t - deadline, t). The membership test needs only the LATEST
    * S(i-1) time strictly before t (if that one is outside the
    * window, every other is further), which is exactly
    * [[AsofJoin.asofBackward]] at t-1 microsecond — so each stage is
    * one window pass on `user_id`, never a range theta-join. The
    * DuckDB oracle states the spec naively (EXISTS semi-join with the
    * range predicate), making the gate a cross-construction proof.
    *
    * All time math is integer microseconds; each stage's frame is
    * deduplicated to distinct (user, us) first, so same-microsecond
    * duplicates neither inflate the frames nor break determinism.
    *
    * Scale shape: `stages.length` narrow legs, each one
    * HashPartitioning(user_id) window pass over distinct
    * (user, event-time) rows of two adjacent stages — no self-join,
    * no per-user blowup beyond the user's own event times.
    *
    * Output: one row per stage — (stage 1-based, event_type,
    * n_users). */
  def deadlineFunnel(
      events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      deadlineMinutes: Int = 30): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(deadlineMinutes > 0, s"deadline $deadlineMinutes must be positive")
    val deadlineUs = deadlineMinutes.toLong * 60L * 1000000L
    val base = events
      .filter(col("ts").isNotNull && col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val first = base.filter(col("event_type") === stages.head)
      .select(col("user_id"), col("us")).distinct()
    val reached: Seq[DataFrame] = stages.tail.scanLeft(first) { (prev, stage) =>
      val cand = base.filter(col("event_type") === stage)
        .select(col("user_id"), col("us")).distinct()
        // asofBackward attaches the latest prev time <= join time; the
        // funnel needs STRICTLY before, so the join rides at us-1
        .withColumn("us_m1", col("us") - 1L)
      AsofJoin.asofBackward(cand,
        prev.select(col("user_id"), col("us").as("t")),
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "us_m1", rightTime = "t",
        rightPayload = Seq("t"))
        .filter(col("t").isNotNull && col("us") - col("t") <= deadlineUs)
        .select(col("user_id"), col("us"))
    }
    reached.zipWithIndex.map { case (df, i) =>
      df.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(stages(i)).as("event_type"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Attribution-window sensitivity sweep: the same last-touch
    * credit ([[lastTouchAttribution]]) evaluated at several window
    * widths in one pass — the report that tells an analytics team
    * whether their "60-minute" convention is load-bearing or
    * arbitrary (a rate that cliffs between 30 and 60 means the
    * window IS the model). The expensive leg — the per-purchase
    * backward as-of join — runs ONCE ungated; each window is then a
    * post-hoc predicate over the joined frame (the lag doesn't
    * depend on the window, only the gate does), so sweeping W
    * windows costs one join plus a ×W blowup of the small purchase
    * frame, never W joins.
    *
    * Output per window: purchases, attributed count, rate in exact
    * ppm. */
  def attributionWindowSweep(
      events: DataFrame,
      windows: Seq[Int] = Seq(30, 60, 120)): DataFrame = {
    require(windows.nonEmpty && windows.forall(_ > 0),
      s"windows $windows must be positive")
    // ~10 years in minutes: effectively ungated, still inside the
    // Int range the signature takes
    val all = lastTouchAttribution(events, windowMinutes = 5256000)
    val spark = events.sparkSession
    import spark.implicits._
    val wdf = windows.map(_.toLong).toDF("window_minutes")
    all.crossJoin(broadcast(wdf))
      .groupBy(col("window_minutes"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("lag_us").isNotNull &&
          col("lag_us") <= col("window_minutes") * 60000000L, 1L)
          .otherwise(0L)).as("n_attributed"))
      .select(col("window_minutes"), col("n_purchases"), col("n_attributed"),
        when(col("n_purchases") === 0, lit(0L))
          .otherwise(expr("1000000 * n_attributed DIV n_purchases"))
          .as("rate_ppm"))
  }

  /** Linear multi-touch attribution — the fair-share companion of
    * [[lastTouchAttribution]]: every view/click in the `windowMinutes`
    * before a purchase (at-or-before, the x12 convention) shares the
    * credit, in exact integer ppm — `10⁶ div n` per touch with the
    * rounding remainder assigned to the LAST touch (max time, max
    * event_id tie — a deterministic home for the leftover ppm, and the
    * touch last-touch models would credit anyway), so every purchase's
    * weights sum to exactly 10⁶. Purchases with no in-window touch
    * produce no row (the kept-row convention belongs to last-touch;
    * this is the credit ledger, and an empty credit line is noise).
    *
    * Scale shape: ONE equi-join on `user_id` (both sides shuffle once;
    * no range theta-join — the window gate is a post-join predicate),
    * then the count and rank windows share the purchase_id partition:
    * one more exchange keyed on purchase, moving only in-window pairs.
    * Per-purchase pair count is bounded by the user's touch rate ×
    * `windowMinutes` — the window IS the skew bound, and a pathological
    * hot user pays their own event count, never the corpus. */
  def linearAttribution(
      events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    require(windowMinutes > 0, s"window $windowMinutes must be positive")
    val windowUs = windowMinutes.toLong * 60L * 1000000L
    val base = events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("pus"))
    val touches = base.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("us").as("tus"),
        col("event_id").as("touch_id"), col("event_type").as("touch_type"))
    val byPurchase = Window.partitionBy(col("purchase_id"))
    val lastFirst = byPurchase.orderBy(col("tus").desc, col("touch_id").desc)
    purchases.join(touches, Seq("user_id"))
      .filter(col("tus") <= col("pus") && col("pus") - col("tus") <= windowUs)
      .withColumn("n_touches", count(lit(1)).over(byPurchase))
      .withColumn("__rn", row_number().over(lastFirst))
      .select(col("purchase_id"), col("user_id"), col("touch_id"),
        col("touch_type"), col("n_touches"),
        expr("""1000000 DIV n_touches +
                CASE WHEN __rn = 1
                     THEN 1000000 - (1000000 DIV n_touches) * n_touches
                     ELSE 0 END""").as("weight_ppm"))
  }

  /** Position-based (U-shaped / 40-20-40) attribution — the third
    * member of the credit family (X104 last-touch, X124 linear): the
    * FIRST touch (discovery) and the LAST touch (closer) each take
    * 400,000 ppm, the middle touches share the remaining 200,000
    * equally. The degenerate shapes follow the standard renormalized
    * convention: a single touch takes everything; exactly two touches
    * split 500,000/500,000. Exact-integer credit: the middle share is
    * `200000 div (n−2)` and the division remainder goes to the LAST
    * touch (the X124 remainder-to-last convention), so every
    * purchase's weights sum to exactly 10⁶ — spec-pinned as a
    * property over the fixture.
    *
    * Same join/window shape as [[linearAttribution]]: one `user_id`
    * equi-join, per-purchase count + position windows over the
    * purchase partition (touches per purchase are window-bounded,
    * never corpus-bounded). Position order is (touch time, touch_id)
    * ascending — a full deterministic total order. */
  def uShapedAttribution(
      events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    require(windowMinutes > 0, s"window $windowMinutes must be positive")
    val windowUs = windowMinutes.toLong * 60L * 1000000L
    val base = events.filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("us").as("pus"))
    val touches = base.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("us").as("tus"),
        col("event_id").as("touch_id"), col("event_type").as("touch_type"))
    val byPurchase = Window.partitionBy(col("purchase_id"))
    val firstFirst = byPurchase.orderBy(col("tus").asc, col("touch_id").asc)
    purchases.join(touches, Seq("user_id"))
      .filter(col("tus") <= col("pus") && col("pus") - col("tus") <= windowUs)
      .withColumn("n_touches", count(lit(1)).over(byPurchase))
      .withColumn("pos", row_number().over(firstFirst))
      .select(col("purchase_id"), col("user_id"), col("touch_id"),
        col("touch_type"), col("n_touches"), col("pos"),
        expr("""CASE WHEN n_touches = 1 THEN 1000000
                     WHEN n_touches = 2 THEN 500000
                     WHEN pos = 1 THEN 400000
                     WHEN pos = n_touches
                     THEN 400000 + 200000 -
                          (200000 DIV (n_touches - 2)) * (n_touches - 2)
                     ELSE 200000 DIV (n_touches - 2) END""")
          .as("weight_ppm"))
  }

  /** Type-2 slowly-changing-dimension compression: collapse an
    * observation stream of `(key, time, tiebreak, attr)` into validity
    * runs — one row per maximal stretch of consecutive-equal `attr`
    * per key, with `valid_from_us` = the run's first observation,
    * `valid_to_us` = the next run's start (NULL on the current run),
    * and `n_obs` = observations compressed into it. This is the batch
    * MERGE that keeps a warehouse dimension historized from an append
    * feed (reference `sqlDwh.py`'s staging→promote cycle keeps only
    * the latest row; the SCD2 form is what a training-data lineage
    * audit needs — "which priority was in force when this order
    * shipped").
    *
    * Run detection is gaps-and-islands (the [[sessionize]] machinery
    * on value-change instead of time-gap): lag + change flag + running
    * sum, ordered by `(time, tiebreak)` so equal timestamps can never
    * flip version assignment between runs or engines. NULL attr values
    * are a legal version of their own (`<=>` change comparison — a
    * NULL→'X' flip is a real transition, not a silent merge).
    *
    * Scale shape: ONE shuffle total (plan-pinned) — the `key` exchange
    * serves the lag and running-sum windows (same partition+order),
    * the run groupBy clusters on a superset of `key` so
    * HashPartitioning(key) already satisfies it, and the closing lead
    * window partitions on `key` again — the whole chain rides the
    * first exchange. */
  def changeHistory(
      obs: DataFrame, key: String, timeUs: String, tieBreak: String,
      attr: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(timeUs), col(tieBreak))
    val versioned = obs
      .select(col(key), col(timeUs), col(tieBreak), col(attr))
      .withColumn("__prev", lag(col(attr), 1).over(w))
      // first row of a key: lag is NULL and the null-safe compare
      // flags it as a change iff attr itself is non-NULL — seed the
      // first version unconditionally via the row_number()==1 test
      .withColumn("__first", row_number().over(w) === 1)
      .withColumn("version_idx",
        sum((col("__first") || !(col("__prev") <=> col(attr))).cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = versioned.groupBy(col(key), col("version_idx"))
      .agg(
        min(col(attr)).as(attr), // constant within the run
        min(col(timeUs)).as("valid_from_us"),
        count(lit(1)).as("n_obs"))
    val byVersion = Window.partitionBy(col(key)).orderBy(col("version_idx"))
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** INCREMENTAL SCD2 MAINTENANCE — apply a late observation batch to
    * a standing [[changeHistory]] dimension WITHOUT re-reading the old
    * observation stream (at 100 TB the history table is small and the
    * raw stream is not; a nightly batch must extend validity intervals
    * from the history alone). CONTRACT: every batch observation of a
    * key is strictly later than all of that key's historical
    * observations (the watermark contract every incremental dimension
    * load has). Under it, the output is EXACTLY
    * `changeHistory(oldObs ∪ batch)` — the x252 gate proves the
    * equality against a DuckDB full recompute, and the spec replays
    * a three-way split associatively.
    *
    * Semantics: a batch run whose attribute equals the key's current
    * attribute EXTENDS the current version (its observations add to
    * `n_obs`, `valid_from_us` stays); a differing attribute closes the
    * current version at the new run's first timestamp and appends the
    * next `version_idx`; unseen keys start at version 1; untouched
    * keys pass through byte-identically. NULL attributes compare
    * null-safely (a NULL→NULL batch head is NOT a new version — the
    * `__cur_ver` null test, not the attribute, detects a new key).
    *
    * Scale shape: one window over the BATCH (ordered within key), one
    * version-count aggregate, one union with the history frame, one
    * merge aggregate and one lead window over versions per key —
    * every exchange is keyed on the dimension key; nothing rescans
    * old observations. */
  def scd2Apply(
      history: DataFrame, batch: DataFrame, key: String, timeUs: String,
      tieBreak: String, attr: String): DataFrame = {
    val cur = history.filter(col("is_current"))
      .select(col(key), col("version_idx").as("__cur_ver"),
        col(attr).as("__cur_attr"))
    val w = Window.partitionBy(col(key)).orderBy(col(timeUs), col(tieBreak))
    val versioned = batch
      .select(col(key), col(timeUs), col(tieBreak), col(attr))
      .join(cur, Seq(key), "left")
      .withColumn("__prev", lag(col(attr), 1).over(w))
      .withColumn("__first", row_number().over(w) === 1)
      // seed of the first batch row = the standing current attribute;
      // later rows seed from their batch predecessor
      .withColumn("__seed",
        when(col("__first"), col("__cur_attr")).otherwise(col("__prev")))
      .withColumn("__change",
        (col("__first") && col("__cur_ver").isNull) ||
          !(col("__seed") <=> col(attr)))
      .withColumn("version_idx",
        coalesce(col("__cur_ver"), lit(0L)) +
          sum(col("__change").cast("long"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val batchRuns = versioned.groupBy(col(key), col("version_idx"))
      .agg(
        min(col(attr)).as(attr), // constant within the run
        min(col(timeUs)).as("valid_from_us"),
        count(lit(1)).as("n_obs"))
    // a continuing run shares its version_idx with the history's
    // current row: the merge keeps the OLD valid_from (batch is
    // strictly later) and sums the observation counts
    val merged = history
      .select(col(key), col("version_idx"), col(attr),
        col("valid_from_us"), col("n_obs"))
      .unionByName(batchRuns)
      .groupBy(col(key), col("version_idx"))
      .agg(min(col(attr)).as(attr),
        min(col("valid_from_us")).as("valid_from_us"),
        sum(col("n_obs")).as("n_obs"))
    val byVersion = Window.partitionBy(col(key)).orderBy(col("version_idx"))
    merged
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** First-order Markov transition matrix over the per-user event
    * stream: for every consecutive pair (ordered by time, event_id
    * tiebreak) count `(event_type → next_type)` and report the
    * transition probability as an exact integer ratio in ppm
    * (`1e6·n_pairs div row_total`). The last event of each user has
    * no successor and drops out. The classic "what happens after a
    * click" product-analytics row, and the input to a next-event
    * prediction baseline.
    *
    * Scale shape: ONE shuffle on `user_id` for the lead window; the
    * pair stream then collapses through a map-side-combinable groupBy
    * to type×type cardinality (25 rows here), and the per-from row
    * totals ride a window over that tiny aggregate — no second pass
    * over events. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val pairs = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val byFrom = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("row_total", sum(col("n_pairs")).over(byFrom))
      .withColumn("prob_ppm", expr("1000000 * n_pairs DIV row_total"))
  }

  /** NEGATIVE-PATTERN FUNNEL — users who went view → purchase with NO
    * error strictly between (the "converted cleanly" segmentation a
    * positive-chain funnel — x75/x167/x108 — cannot express; the classic
    * sequence-pattern NOT operator): a purchase converts CLEANLY iff
    * its LATEST preceding view has no error after it — optimal by
    * exchange (an error between the latest view and the purchase lies
    * between every earlier view and it too, so checking the latest
    * view decides existence over all pairs). Same-microsecond events
    * do not count as "between" (strict `us` inequalities — stated;
    * the contract is value-defined so both engines agree without a
    * tiebreak).
    *
    * Computed with ONE user-keyed window: running max of view/error
    * times over the strictly-earlier RANGE frame (integer micros, so
    * `RANGE ... -1` IS strictly-earlier), then one counting
    * aggregate. Counts are PER TARGET EVENT, not per user — a
    * month-long stream saturates per-user existence (every user
    * eventually has one clean pair; probed), while the per-purchase
    * clean/dirty race splits ~50/50 and tracks real page health.
    * Output: one row — target events, those with a preceding `from`,
    * the cleanly-converted subset, and the dirty remainder. */
  def negativeFunnel(
      events: DataFrame, from: String = "view", to: String = "purchase",
      avoid: String = "error"): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val marked = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("last_from_us",
        max(when(col("event_type") === from, col("us"))).over(w))
      .withColumn("last_avoid_us",
        max(when(col("event_type") === avoid, col("us"))).over(w))
    val isTo = col("event_type") === to
    val withFrom = isTo && col("last_from_us").isNotNull
    val clean = withFrom && (col("last_avoid_us").isNull ||
      col("last_avoid_us") <= col("last_from_us"))
    marked.agg(
      sum(isTo.cast("long")).as("n_target"),
      sum(withFrom.cast("long")).as("n_with_from"),
      sum(clean.cast("long")).as("n_clean"),
      (sum(withFrom.cast("long")) - sum(clean.cast("long"))).as("n_dirty"))
  }

  /** SESSION-GAP SENSITIVITY SWEEP — how many sessions each candidate
    * inactivity threshold would produce (the tuning curve that
    * DEFENDS a session-gap choice, next to x234's dwell percentiles:
    * a knee in this curve is where the gap starts cutting real visits
    * apart): by gaps-and-islands algebra, `n_sessions(T) = n_users +
    * #\{consecutive gaps > T\}` — so ONE user-keyed lag pass computes
    * every threshold's answer from the same gap multiset, never
    * re-sessionizing per candidate (the x217 one-run-rethresholded
    * convention; spec cross-proves each row against a full
    * [[sessionize]] run at that gap).
    *
    * Scale shape: one lag window inside user partitions, one
    * gap × thresholds conditional count (thresholds is a literal
    * handful), a one-row user count broadcast; threshold-count
    * output. */
  def gapSweep(
      events: DataFrame,
      thresholdsMinutes: Seq[Int] = Seq(5, 15, 30, 60)): DataFrame = {
    require(thresholdsMinutes.nonEmpty && thresholdsMinutes.forall(_ >= 1),
      s"thresholds $thresholdsMinutes must be positive minutes")
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val based = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val gaps = based
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select((col("us") - col("prev_us")).as("gap_us"))
    val users = based.agg(countDistinct(col("user_id")).as("n_users"))
    val ts = events.sparkSession.range(1)
      .select(explode(typedLit(thresholdsMinutes.toList)).as("tm"))
    val counts = gaps
      .crossJoin(broadcast(ts))
      .groupBy(col("tm"))
      .agg(sum((col("gap_us") > col("tm").cast("long") * 60000000L)
        .cast("long")).as("n_gaps_over"))
    // the result is BUILT FROM the thresholds frame, not the gaps: a
    // corpus where no user has two events has an empty gap multiset,
    // and the algebra still owes one row per threshold with
    // n_sessions = n_users + 0 (ADVICE r12 — a groupBy over the empty
    // crossJoin would emit nothing and break the documented identity)
    ts.join(counts, Seq("tm"), "left")
      .crossJoin(broadcast(users))
      .select(col("tm").as("threshold_minutes"), col("n_users"),
        coalesce(col("n_gaps_over"), lit(0L)).as("n_gaps_over"),
        (col("n_users") + coalesce(col("n_gaps_over"), lit(0L)))
          .as("n_sessions"))
  }

  /** PATH TRIGRAMS — the 3-step sequential-pattern row one rung above
    * [[transitionMatrix]]'s first-order pairs ("view→click→purchase
    * dominates; view→click→view is the browse loop"): every
    * consecutive event-type triple per user under the (us, event_id)
    * total order (the x29 tie convention), counted corpus-wide,
    * top-k by (count desc, t1, t2, t3) with the share of ALL triples
    * in exact ppm. Users with fewer than three events contribute
    * nothing; the first-order matrix cannot see these dependencies
    * (a Markov chain fitted to x86 predicts the third step from the
    * second alone — this row is the evidence for or against that).
    *
    * Scale shape: one user-keyed window serves both leads, one
    * map-side-combinable triple count (bounded by |types|³ keys), a
    * one-row total broadcast, one WindowGroupLimit-prunable rank. */
  def pathTrigrams(events: DataFrame, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK $topK must be positive")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val triples = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(col("event_type").as("t1"), col("t2"), col("t3"))
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
    triples
      .crossJoin(broadcast(triples.agg(sum(col("n")).as("total"))))
      .withColumn("share_ppm", expr("1000000 * n DIV total"))
      .withColumn("pattern_rank", row_number().over(Window.orderBy(
        col("n").desc, col("t1"), col("t2"), col("t3"))).cast("long"))
      .filter(col("pattern_rank") <= topK)
      .drop("total")
  }

  /** TRANSITION DWELL-TIME percentiles — the TIME dimension
    * [[transitionMatrix]] drops: per (from → to) transition, exact
    * P50/P90 of the dwell in whole SECONDS ("users pause 4 s between
    * view and click but 90 s before purchase" — the engagement-vs-
    * hesitation read, and the timeout evidence a session-gap choice
    * is defended with). Consecutive pairs under the (us, event_id)
    * total order (same-microsecond ties are real in event streams —
    * the x29 convention keeps both engines walking one sequence);
    * dwell floors to seconds BEFORE the histogram (microsecond gaps
    * are near-unique — seconds bound the value domain, stated).
    *
    * Percentiles are the x30 HISTOGRAM-rank carve (PERCENTILE_DISC
    * re-derived in integers: smallest value whose cumulative count
    * reaches ⌈p·n/100⌉) — after the one user-keyed window, everything
    * is bounded by transitions × distinct dwell-seconds, never raw
    * events in one task. */
  def transitionDwell(
      events: DataFrame, ps: Seq[Int] = Seq(50, 90)): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gaps = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type"),
        expr("(us - prev_us) DIV 1000000").as("dwell_s"))
    val hist = gaps.groupBy(col("from_type"), col("to_type"), col("dwell_s"))
      .agg(count(lit(1)).as("cnt"))
    Stats.percentileDisc(hist, Seq("from_type", "to_type"), "dwell_s", "cnt", ps)
      .select(col("from_type"), col("to_type"), col("p"),
        col("n").as("n_transitions"), col("dwell_s").as("dwell_s_at_p"))
  }

  /** Conversion-lag percentiles: for each consecutive stage pair in
    * `stages`, the distribution of per-user lag between the FIRST
    * occurrence of each stage ("time to convert" — the product
    * analytics row next to the [[eventFunnel]] counts; note the
    * difference: the funnel restarts each stage's clock sequentially,
    * this measures first-to-first and keeps a user when the later
    * stage is at-or-after the earlier one). Lags bucket to integer
    * SECONDS and percentiles are EXACT rank selection over the
    * (stage, lag_s) histogram — the [[Stats.lengthQuantiles]]
    * machinery: the corpus collapses to a map-side-combinable
    * histogram first (bounded by the observation window in seconds ×
    * stage pairs, not by users), the cumulative window and the
    * target-rank pick run over that small frame, and no stage ever
    * funnels through a single sort task.
    *
    * Scale shape: first-occurrence aggregate is ONE user_id-keyed
    * shuffle shared by every stage (groupBy user×type); the pair
    * joins are user-keyed self-joins of that tiny per-user frame;
    * the histogram is the only later aggregate. */
  def conversionLagQuantiles(
      events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      ps: Seq[Int] = Seq(50, 90)): DataFrame = {
    require(stages.size >= 2, s"need at least two stages, got $stages")
    val firsts = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .filter(col("event_type").isin(stages: _*))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("us")).as("fus"))
    val lags = stages.zip(stages.tail).map { case (a, b) =>
      firsts.filter(col("event_type") === a)
        .select(col("user_id"), col("fus").as("a_us"))
        .join(firsts.filter(col("event_type") === b)
          .select(col("user_id"), col("fus").as("b_us")), Seq("user_id"))
        .filter(col("b_us") >= col("a_us"))
        .select(lit(s"$a->$b").as("stage"),
          expr("(b_us - a_us) DIV 1000000").as("lag_s"))
    }.reduce(_ unionByName _)
    val hist = lags.groupBy(col("stage"), col("lag_s"))
      .agg(count(lit(1)).as("cnt"))
    Stats.percentileDisc(hist, Seq("stage"), "lag_s", "cnt", ps)
      .select(col("stage"), col("p"), col("n").as("n_users"),
        col("lag_s").as("lag_s_at_p"))
  }

  /** Cohort retention: users are grouped by the DAY of their first
    * event (integer epoch-day); for every later active day the matrix
    * counts how many of that cohort came back `day_offset` days after
    * signup. Output: (cohort_day, day_offset, n_active, cohort_size)
    * — all integers, offset 0 is the cohort itself. NULL timestamps
    * are dropped up front (sessionize rationale).
    *
    * Scale shape: the first-touch groupBy and the activity join are
    * both keyed on `user_id` (one exchange, reused); activity is
    * pre-collapsed to DISTINCT (user, day) BEFORE the join so the
    * matrix aggregate moves user×active-day rows, never raw events;
    * the closing countDistinct plans as a partial-expand two-phase
    * aggregate on (cohort_day, day_offset). Cohort size rides the
    * first-touch frame (a second tiny aggregate), broadcast back onto
    * the matrix. */
  def cohortRetention(events: DataFrame): DataFrame = {
    val withDay = events.filter(col("ts").isNotNull)
      .select(col("user_id"), Stats.day(Stats.EpochUs).as("day"))
    val active = withDay.distinct()
    val firstTouch = active.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    val sizes = firstTouch.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    active.join(firstTouch, Seq("user_id"))
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"),
        col("user_id"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active")) // distinct by construction upstream
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"))
  }

  /** Entry-path mining: the top-of-session behavior report — per
    * session (the [[sessionize]] 30-minute-gap definition, same
    * labeling plan), the ordered sequence of the session's FIRST
    * `prefixLen` event types joined with '>' (`view>click>view…`),
    * counted across sessions. The prefix cap is what keeps the path
    * domain enumerable (paths over full 40-event sessions are
    * near-unique — a count over them is a row-id in disguise); entry
    * paths are the form product analytics actually reports.
    *
    * Ordering inside a session is (us, event_id) — the sessionize
    * total order — realized as `array_sort` over collected
    * (us, event_id, event_type) structs (struct compare is
    * lexicographic by field position, so the sort IS the tiebroken
    * event order; the same collect-then-sort construction the x64
    * cross-proof established against DuckDB's ordered `string_agg`).
    *
    * Scale shape: ONE shuffle on `user_id` serves the lag window, the
    * running-sum window AND the per-session collect (a prefix of the
    * same clustering, map-side partials); per-session state is
    * bounded by session length. The closing path groupBy is map-side
    * combinable down to path cardinality — bounded by
    * |event types|^prefixLen, not by sessions. */
  def sessionPaths(
      events: DataFrame, gapMinutes: Int = 30, prefixLen: Int = 5): DataFrame = {
    require(prefixLen > 0, s"prefixLen $prefixLen must be positive")
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val labeled = events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs)
          .cast("long"))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    labeled.groupBy(col("user_id"), col("session_idx"))
      .agg(collect_list(
        struct(col("us"), col("event_id"), col("event_type"))).as("evs"))
      .select(concat_ws(">",
        slice(transform(array_sort(col("evs")),
          e => e.getField("event_type")), 1, prefixLen)).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Session-scoped conversion funnel: X87's ordered containment
    * re-keyed from the user's lifetime to the SESSION — "did this
    * visit convert", the number a product team actually tracks (a
    * lifetime funnel credits a purchase to a view from weeks ago).
    * Stage clocks are the eventFunnel rules verbatim (earliest
    * completion of the previous stage, strictly-after in integer
    * microseconds) but the key is (user_id, session_idx) under the
    * [[sessionize]] gap definition. Returns one row per stage:
    * (stage 1-based, event_type, n_sessions).
    *
    * Scale shape: the session labeling is the ONE user_id exchange
    * (lag + running-sum windows share it); every per-stage groupBy
    * and join keys on (user_id, session_idx) — a superset of the
    * established HashPartitioning(user_id), so the stage chain
    * reuses the clustering without a second corpus shuffle; per-key
    * state is one timestamp per stage. */
  def sessionFunnel(
      events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      gapMinutes: Int = 720): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val labeled = events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs)
          .cast("long"))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("session_idx"), col("event_type"), col("us"))
    val keys = Seq(col("user_id"), col("session_idx"))
    val first = labeled.filter(col("event_type") === stages.head)
      .groupBy(keys: _*).agg(min(col("us")).as("t"))
    val reached: Seq[DataFrame] = stages.tail.scanLeft(first) { (prev, stage) =>
      labeled.filter(col("event_type") === stage)
        .join(prev, Seq("user_id", "session_idx"))
        .filter(col("us") > col("t"))
        .groupBy(keys: _*).agg(min(col("us")).as("t"))
    }
    reached.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_sessions"))
        .select(lit(i + 1).as("stage"), lit(stages(i)).as("event_type"),
          col("n_sessions"))
    }.reduce(_.unionByName(_))
  }

  /** Bot/headless-traffic flags — the per-user rate profile abuse
    * filtering reads before events feed any analytics or training
    * set: event count, active days, the busiest day's count, and the
    * minimum inter-event gap in integer microseconds (NULL for a
    * single-event user — no gap exists, and the flag treats an
    * unknown gap as human). `is_bot` = busiest day above
    * `maxDayEvents` OR a minimum gap under `minGapUs` — machine
    * cadence shows up as one or both.
    *
    * Scale shape: everything rides ONE `user_id` exchange — the lag
    * window, the (user, day) day-count groupBy (a prefix of the same
    * clustering, map-side partials) and the closing per-user
    * aggregates; per-user state is a sort run. The two legs join
    * user-to-user on the already-established partitioning. */
  def botFlags(
      events: DataFrame, maxDayEvents: Int = 12,
      minGapUs: Long = 1000000L): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val base = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .withColumn("day", Stats.day("us"))
    val gaps = base.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("gap")).as("min_gap_us"))
    val days = base.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_day"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("active_days"),
        max(col("n_day")).as("max_day_events"))
    gaps.join(days, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("active_days"),
        col("max_day_events"), col("min_gap_us"),
        (col("max_day_events") > maxDayEvents ||
          (col("min_gap_us").isNotNull && col("min_gap_us") < minGapUs))
          .as("is_bot"))
  }

  /** Daily growth accounting (the new/retained/resurrected
    * decomposition social-network analytics popularized): every
    * (user, active day) is classified by the gap since that user's
    * PREVIOUS active day — no previous day → `n_new`, gap within
    * `resurrectDays` → `n_retained`, longer → `n_resurrected` — and
    * the per-day totals decompose the DAU series exactly
    * (`n_new + n_retained + n_resurrected` = that day's actives,
    * spec-pinned). The report X88's cohort retention can't give:
    * retention says who came back; this says what today's actives
    * are MADE OF, the first chart a growth review asks for.
    *
    * Day boundaries floor-divide the epoch ([[Stats.day]]; a plain
    * DIV truncates, so pre-1970 events would land a day late). Scale
    * shape: the corpus collapses map-side to distinct (user, day); the
    * lag window shuffles once on user_id and the closing per-day
    * aggregate is map-side-combinable, bounded by the day domain. */
  def growthAccounting(
      events: DataFrame, resurrectDays: Int = 14): DataFrame = {
    require(resurrectDays >= 1, s"resurrectDays $resurrectDays must be >= 1")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    events.filter(col("ts").isNotNull)
      .select(col("user_id"), Stats.day(Stats.EpochUs).as("day"))
      .distinct()
      .withColumn("prev_day", lag(col("day"), 1).over(byUser))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("prev_day").isNull, 1)).as("n_new"),
        count(when(col("day") - col("prev_day") <= resurrectDays.toLong, 1))
          .as("n_retained"),
        count(when(col("day") - col("prev_day") > resurrectDays.toLong, 1))
          .as("n_resurrected"))
  }

  /** Event-type co-occurrence lift within sessions: for every type
    * pair (a < b), the exact ratio between how often the two types
    * share a session and what independence predicts —
    * `lift_ppm = 10⁶·n_ab·n_sessions div (n_a·n_b)` (10⁶ =
    * independent, above = the types travel together, below = they
    * repel) — plus the raw support counts, so a high-lift rare pair
    * can't masquerade as signal. The session-scoped sibling of the
    * X131 basket-affinity matrix (baskets group by order; this
    * groups by the [[sessionize]] boundary, so it sees cross-type
    * BEHAVIORAL flow, not purchase composition).
    *
    * Scale shape: sessions label with the [[sessionize]] machinery
    * (one user_id shuffle), collapse to DISTINCT (session, type) —
    * bounded by sessions × type domain — and the pair self-join fans
    * out only within a session (≤ |types|² per session, never
    * corpus-scale); counts broadcast back onto the pair frame. */
  def cooccurrenceLift(
      events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    // distinct (session, type) memberships — the [[sessionize]]
    // labeling, kept at event grain only long enough to label
    val st = events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs)
          .cast("long"))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("session_idx"), col("event_type"))
      .distinct()
      .localCheckpoint(true) // 4 consumers below — label sessions once
    val nSessions = st.select(col("user_id"), col("session_idx")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val typeCnt = st.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"))
    val pairs = st.select(col("user_id"), col("session_idx"),
        col("event_type").as("type_a"))
      .join(st.select(col("user_id"), col("session_idx"),
        col("event_type").as("type_b")), Seq("user_id", "session_idx"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(typeCnt.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(typeCnt.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nSessions))
      .select(col("type_a"), col("type_b"), col("n_ab"),
        col("n_a"), col("n_b"), col("n_sessions"),
        expr("CAST(CAST(1000000 AS DECIMAL(38,0)) * n_ab * n_sessions " +
          "DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("lift_ppm"))
  }

  /** User contribution capping — the bounding step user-level privacy
    * and robust aggregation both require (a DP mechanism's
    * sensitivity is the max per-user contribution; an engagement
    * metric a bot can inflate without bound is not a metric): each
    * user keeps their FIRST `maxPerUser` events under the
    * (time, event_id) total order, and the report shows per event
    * type what the cap keeps vs drops — the audit row that says
    * whether the cap is a no-op or a guillotine before anyone turns
    * it on. Same-microsecond ties resolve by event_id, so the kept
    * set is engine-identical.
    *
    * Scale shape: ONE shuffle on `user_id` for the rank window (a
    * hot user costs their own event count), then a map-side-
    * combinable rollup on the type domain. */
  def contributionCap(
      events: DataFrame, maxPerUser: Int = 30): DataFrame = {
    require(maxPerUser >= 1, s"cap $maxPerUser must be positive")
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("rn", row_number().over(byUser))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("rn") <= maxPerUser, 1)).as("n_kept"))
      .select(col("event_type"), col("n_total"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_dropped"),
        expr("1000000 * n_kept DIV n_total").as("kept_ppm"))
  }

  /** Bounce rate by session entry type — the web-analytics staple
    * next to [[sessionFunnel]]: per ENTRY event type (the session's
    * temporally-first event under the full (time, event_id) total
    * order — deterministic even for same-microsecond ties), how many
    * sessions started there and how many BOUNCED (one event and
    * gone), with the exact rate in ppm. The landing-page triage
    * report: a high-traffic entry with a high bounce rate is where
    * the funnel actually leaks.
    *
    * The entry pick is `min(struct(us, event_id, event_type))` — a
    * lexicographic arg-min, NOT an order-dependent first() — so both
    * engines resolve the same entry; the oracle cross-proves with a
    * row_number window, an independent construction.
    *
    * Scale shape: the [[sessionize]] chain's one user_id shuffle; the
    * per-session aggregate is a prefix of the window partitioning (no
    * second exchange), the closing per-type rollup map-side-
    * combinable. */
  def bounceRate(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val labeled = events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        (col("prev_us").isNull || col("us") - col("prev_us") > gapUs)
          .cast("long"))
      .withColumn("session_idx", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    labeled.groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("us"), col("event_id"), col("event_type")))
          .as("first"))
      .select(col("first.event_type").as("entry_type"), col("n_events"))
      .groupBy(col("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_events") === 1, 1)).as("n_bounces"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        expr("1000000 * n_bounces DIV n_sessions").as("bounce_ppm"))
  }

  /** Kaplan-Meier survival curve for time-to-conversion (Kaplan &
    * Meier 1958) — the censoring-correct answer to "how long until a
    * viewer purchases": every user's duration runs from their first
    * `startType` day to their first at-or-after `eventType` day, and
    * users who never convert are RIGHT-CENSORED at the corpus's last
    * observed day instead of being dropped (dropping them — what a
    * naive x92-style lag average does — biases conversion fast,
    * because slow converters are exactly the ones still censored).
    * One row per event time t: the at-risk count, events, and the
    * survival estimate as an exact-integer ppm recurrence
    * `S ← S·(n_t − d_t) div n_t` — deterministically lossy,
    * IDENTICALLY lossy in the oracle's recursive CTE (the X111
    * PageRank convention for sequential products).
    *
    * Scale shape: the corpus collapses to per-user first-day
    * aggregates (two groupBys keyed on user_id), then to the
    * duration histogram — bounded by the DAY DOMAIN, never users —
    * whose event rows alone are collected for the driver-side
    * product fold (a sequential recurrence is not a windowable
    * aggregate; the collect is day-domain-bounded by construction,
    * the config-bounded-collect convention). Day boundaries
    * floor-divide the epoch (the X160 convention). */
  def kaplanMeier(
      events: DataFrame, startType: String = "view",
      eventType: String = "purchase"): DataFrame = {
    val sp = events.sparkSession
    val e = events
      .filter(col("ts").isNotNull &&
        col("event_type").isin(startType, eventType))
      .select(col("user_id"), col("event_type"),
        Stats.day(Stats.EpochUs).as("day"))
    val starts = e.filter(col("event_type") === startType)
      .groupBy(col("user_id")).agg(min(col("day")).as("t0"))
    val horizon = e.agg(max(col("day")).as("h"))
    val conv = e.filter(col("event_type") === eventType)
      .join(starts, Seq("user_id"))
      .filter(col("day") >= col("t0"))
      .groupBy(col("user_id")).agg(min(col("day")).as("te"))
    val durations = starts.join(conv, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select(
        when(col("te").isNotNull, col("te") - col("t0"))
          .otherwise(col("h") - col("t0")).as("t"),
        col("te").isNotNull.cast("long").as("ob"))
    val hist = durations.groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"), sum(col("ob")).as("d"))
      .withColumn("n_risk", sum(col("cnt")).over(
        Window.orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
    val eventRows = hist.filter(col("d") >= 1)
      .select(col("t"), col("n_risk"), col("d"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var s = BigInt(1000000)
    val out = eventRows.map { case (t, n, d) =>
      s = s * BigInt(n - d) / BigInt(n) // non-negative: floor == trunc
      Row(t, n, d, s.toLong)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t_days",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_risk",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("surv_ppm",
        org.apache.spark.sql.types.LongType, nullable = false)))
    sp.createDataFrame(sp.sparkContext.parallelize(out.toSeq, 1), schema)
  }

  /** Per-user inter-arrival burstiness: the squared coefficient of
    * variation of the gaps between a user's consecutive events, exact
    * in ppm — `CV²·10⁶ = 10⁶·(n·Σg² − (Σg)²) div (Σg)²`. CV² ≈ 1 is
    * memoryless (Poisson) arrival, ≫ 1 is bursty (sessions of rapid
    * activity separated by silence — organic humans), ≪ 1 is
    * metronomic (schedulers, pollers) — the CONTINUOUS signal behind
    * [[botFlags]]' binary min-gap heuristic, and the per-user view of
    * what [[graft.ext.Stats]] ingestGaps reports per feed. The gap
    * multiset depends only on the user's SORTED timestamps, so
    * ordering by `us` alone is deterministic under same-timestamp
    * ties (no tiebreak column needed — a permutation of equal values
    * cannot change any gap). Σg telescopes to the user's lifetime
    * span, which bounds every moment far inside DECIMAL(38,0).
    *
    * Scale shape: the [[sessionize]] shape — ONE shuffle on
    * `user_id`, the lag window and the closing per-user aggregate
    * share the partitioning, map-side partial aggregation applies;
    * a hot user costs their own event count, never the corpus.
    * Users with fewer than `minEvents` events (< 2 gaps at the
    * default) are dropped: CV² of a single gap is degenerate. An
    * all-ties user (every event at one instant, Σg = 0) reports 0
    * under an explicit guard. */
  def interarrivalBurstiness(
      events: DataFrame, minEvents: Int = 3): DataFrame = {
    require(minEvents >= 3, s"minEvents $minEvents needs >= 2 gaps")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"))
    events.filter(col("ts").isNotNull)
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("span_us"),
        sum(expr("CAST(gap AS DECIMAL(38,0)) * gap")).as("sumsq"))
      .filter(col("n_gaps") >= minEvents - 1)
      .select(col("user_id"), col("n_gaps"), col("span_us"),
        when(col("span_us") === 0, lit(0L)).otherwise(expr(
          "CAST(CAST(1000000 AS DECIMAL(38,0)) * " +
            "(n_gaps * sumsq - CAST(span_us AS DECIMAL(38,0)) * span_us) " +
            "DIV (CAST(span_us AS DECIMAL(38,0)) * span_us) AS BIGINT)"))
          .as("cv2_ppm"))
  }

  /** Churn-label builder — the training-table constructor for a churn
    * model, with the leakage discipline spelled out in the windows:
    * features come STRICTLY from [split−W, split) and the label
    * STRICTLY from [split, split+W), so no feature can see the label
    * period (the x61/x156 leakage concern as a time split). The split
    * is data-derived ([[markovBacktest]]'s idiom), W in days. Per
    * user active in the feature window: exact event/purchase counts,
    * distinct active days (floor-division day buckets, pre-1970-safe
    * via the x131 correction), and `churned` = no event in the label
    * window. Users born in the label window are NOT rows (no
    * features to train on) — the honest survivorship boundary.
    *
    * Scale shape: one filter+groupBy over the feature slice, one
    * distinct-user projection of the label slice, one left join; the
    * one-row split frame cross-joins, never collects. */
  def churnLabels(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays $windowDays must be positive")
    val wUs = windowDays.toLong * 86400000000L
    val ev = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .crossJoin(broadcast(events.filter(col("ts").isNotNull)
        .select(unix_micros(col("ts").cast("timestamp")).as("us"))
        .agg(expr("min(us) + (max(us) - min(us)) DIV 2").as("split_us"))))
    val feat = ev
      .filter(col("us") >= col("split_us") - wUs && col("us") < col("split_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events_w"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases_w"),
        countDistinct(Stats.day("us"))
          .as("days_active_w"))
    val seen = ev
      .filter(col("us") >= col("split_us") && col("us") < col("split_us") + wUs)
      .select(col("user_id")).distinct()
      .withColumn("seen", lit(true))
    feat.join(seen, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events_w"), col("n_purchases_w"),
        col("days_active_w"),
        (!coalesce(col("seen"), lit(false))).as("churned"))
  }

  /** First-order Markov next-event BACKTEST — the sequence-model
    * sanity row next to [[transitionMatrix]]: train the argmax
    * next-type predictor on the first half of the event-time range,
    * score it on the held-out second half, report per prior type.
    * The split is data-derived (`min_us + (max_us − min_us) div 2` —
    * the subtraction keeps the divided operand non-negative, so
    * Spark's DIV and DuckDB's `//` agree even on pre-1970 fixtures
    * under any rounding of a negative quotient) — never wall clock. A transition belongs to
    * the window of its SOURCE event's timestamp, so a pair straddling
    * the boundary trains nothing and evaluates once. Prediction per
    * prior type is argmax by (count desc, lexicographic next type) —
    * a total order, hash-safe. A prior type seen only in eval carries
    * NULL predicted_next, n_train 0 and zero correct (the honest
    * cold-start row); accuracy is exact ppm.
    *
    * Scale shape: ONE user-keyed window pass produces every
    * transition (shared by train and eval via the split predicate);
    * the model is a (type × type)-domain-bounded aggregate joined
    * broadcast-small onto the eval side; accuracy is one map-side-
    * combinable groupBy. The one-row split frame cross-joins, never
    * collects. */
  def markovBacktest(events: DataFrame): DataFrame = {
    val ev = events.filter(col("ts").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val trans = ev
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("prev_type"), col("next_type"), col("us"))
      .crossJoin(broadcast(
        ev.agg(expr("min(us) + (max(us) - min(us)) DIV 2").as("split_us"))))
    val train = trans.filter(col("us") <= col("split_us"))
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val byPrev = Window.partitionBy(col("prev_type"))
    val model = train
      .withColumn("n_train", sum(col("n")).over(byPrev))
      .withColumn("rn", row_number().over(
        byPrev.orderBy(col("n").desc, col("next_type"))))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("predicted_next"),
        col("n_train"))
    trans.filter(col("us") > col("split_us"))
      .join(model, Seq("prev_type"), "left")
      .groupBy(col("prev_type"))
      .agg(
        max(col("predicted_next")).as("predicted_next"),
        coalesce(max(col("n_train")), lit(0L)).as("n_train"),
        count(lit(1)).as("n_eval"),
        sum(when(col("next_type") === col("predicted_next"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("acc_ppm", expr("1000000 * n_correct DIV n_eval"))
  }
}
