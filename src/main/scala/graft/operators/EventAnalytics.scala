package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Pin.PinOps

/** Classic event-stream analytics over the `events` table (builder brief;
  * additive to the reference surface): ordered-funnel progression and
  * cohort retention. Both are exact integer/date arithmetic end to end —
  * no floats anywhere — so results reproduce identically on any engine.
  */
object EventAnalytics {

  /** Ordered funnel: how far each user progressed through `steps`, where
    * every later step must occur STRICTLY after the previous one
    * (`ts > lastTs`; equal timestamps do not advance — both engines agree
    * exactly). Emits one row per user with `reached` in [0, steps.size].
    *
    * Shape: irrelevant event types are pruned BEFORE the shuffle, each user
    * folds a time-sorted event list through a greedy state machine (greedy
    * earliest-transition is optimal for ordered funnels: taking a step
    * earlier only widens what can follow), and zero-progress users come
    * back via a left join from the distinct-user roll-up — two narrow
    * aggregations instead of shuffling the unfiltered stream.
    *
    * `maxEventsPerUser` bounds the per-user collected list IN-OP: each user
    * keeps only their `maxEventsPerUser` EARLIEST step events by (ts, type)
    * — a rank filter that compiles to WindowGroupLimit, so overflow rows
    * are pruned map-side before the collect. (ts, type) is NOT a total
    * order over rows, so WHICH physical row survives a tie at the cap
    * boundary is partition-placement-dependent — but the fold consumes
    * only the projected (ts, type) pair, and any prefix of a
    * sorted-by-(ts, type) sequence has the same (ts, type) MULTISET no
    * matter how ties permute, so `reached` is engine-deterministic anyway.
    * Keeping the earliest is conservative for an ordered funnel:
    * progression through the kept prefix is exact, and a user whose
    * progression needed an event beyond the cap under-reports rather than
    * fabricating progress. One pathological user (a bot with millions of
    * step events) can no longer blow the collect_list buffer.
    */
  def funnel(events: DataFrame, steps: Seq[String], userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts",
      maxEventsPerUser: Int = 100000): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"repeated step types are ambiguous: $steps")
    require(maxEventsPerUser >= 1, s"maxEventsPerUser: $maxEventsPerUser")
    val stepArr = array(steps.map(lit): _*)
    val zero = struct(lit(0).as("reached"),
      lit(null).cast("timestamp").as("lastTs"))
    val folded = aggregate(col("evs"), zero, (acc, e) => {
      val canAdvance = acc("reached") < steps.size &&
        e("t") === element_at(stepArr, acc("reached") + 1) &&
        (acc("reached") === 0 || e("ts") > acc("lastTs"))
      when(canAdvance,
        struct((acc("reached") + 1).as("reached"), e("ts").as("lastTs")))
        .otherwise(acc)
    })
    val capWindow = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(typeCol).asc)
    val progressed = events
      .filter(col(typeCol).isInCollection(steps))
      .withColumn("__rn", row_number().over(capWindow))
      .filter(col("__rn") <= maxEventsPerUser)
      .groupBy(col(userCol).as("user_id"))
      .agg(sort_array(collect_list(
        struct(col(tsCol).as("ts"), col(typeCol).as("t")))).as("evs"))
      .select(col("user_id"), folded.getField("reached").as("reached"))
    events.select(col(userCol).as("user_id")).distinct()
      .join(progressed, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("reached"), lit(0)).as("reached"))
  }

  /** Windowed funnel: how far each user progresses through `steps` when
    * every CONSECUTIVE step pair must land within `maxGapSec` seconds —
    * the product-analytics conversion window ("clicked within 2h of the
    * view"). Unlike [[funnel]], greedy-from-earliest is NOT optimal under
    * a gap (the earliest step-1 can strand a conversion a later step-1
    * would anchor), so this computes true REACHABILITY: `qualified_k` =
    * step-k events with some qualified step-(k-1) event strictly earlier
    * and within the gap; `reached` = the largest k with a qualified
    * event. Second-granular (epoch-second floor on both engines);
    * equal-second events do not advance, matching [[funnel]]'s strict
    * inequality.
    *
    * Shape: steps.size - 1 user-keyed equi-joins with the gap predicate
    * riding along, each followed by a distinct on (user, second) that
    * bounds qualified-set growth by the user's per-type event volume.
    * Nothing global; the per-step join is the [[GapEngine]] join shape.
    */
  def windowedFunnel(events: DataFrame, steps: Seq[String], maxGapSec: Long,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(steps.size >= 2, s"windowedFunnel needs >= 2 steps: $steps")
    require(steps.distinct == steps, s"repeated step types are ambiguous: $steps")
    require(maxGapSec >= 1, s"maxGapSec: $maxGapSec")
    val base = events.filter(col(typeCol).isInCollection(steps))
      .select(col(userCol).as("user_id"), col(typeCol).as("__t"),
        call_function("div", unix_micros(col(tsCol)), lit(1000000L))
          .as("__sec"))
      .pinLazy() // re-read once per step
    val firstQ = base.filter(col("__t") === steps.head)
      .select(col("user_id"), col("__sec")).distinct()
    val qualified = steps.tail.scanLeft(firstQ) { (prev, step) =>
      base.filter(col("__t") === step)
        .select(col("user_id"), col("__sec"))
        .join(prev.select(col("user_id"), col("__sec").as("__psec")),
          Seq("user_id"))
        .filter(col("__sec") > col("__psec") &&
          col("__sec") <= col("__psec") + maxGapSec)
        .select(col("user_id"), col("__sec")).distinct()
    }
    val reached = qualified.zipWithIndex.map { case (q, i) =>
      q.select(col("user_id")).distinct()
        .withColumn("__k", lit(i + 1))
    }.reduce(_ unionByName _)
      .groupBy(col("user_id")).agg(max(col("__k")).as("reached"))
    events.select(col(userCol).as("user_id")).distinct()
      .join(reached, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("reached"), lit(0)).as("reached"))
  }

  /** Temporal association rules ("A then B within the window",
    * EVENTUALLY-semantics): for every ordered type pair, how many users
    * exhibit some A strictly before some B with `gap <= maxGapSec` — and
    * the confidence against the users who had A at all. The
    * sequential-pattern baseline that [[transitionMatrix]] (immediate
    * next step only) and [[windowedFunnel]] (one declared path) both
    * under-report: "do viewers eventually buy, and within what horizon?"
    * asks for ANY A-B bracket, not adjacency.
    *
    * Exact second-granular counting on USERS (a user counts once per
    * rule, however many brackets they have). Shape: one distinct
    * (user, type, second) rollup pinned once, a user-keyed self equi-join
    * with the gap predicate riding along (bounded by per-user event
    * volume, never cross-user), a (from, to) rollup, and a broadcast
    * per-type user count for the confidence denominator.
    */
  def temporalRules(events: DataFrame, maxGapSec: Long,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(maxGapSec >= 1, s"maxGapSec: $maxGapSec")
    val base = events
      .filter(col(userCol).isNotNull && col(typeCol).isNotNull &&
        col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).as("__t"),
        call_function("div", unix_micros(col(tsCol)), lit(1000000L))
          .as("__sec"))
      .distinct()
      .pinLazy() // both join arms + the per-type denominator
    val typeUsers = base.select(col("__u"), col("__t")).distinct()
      .groupBy(col("__t").as("from_type"))
      .agg(count(lit(1)).as("n_from_users"))
    val seqUsers = base.select(col("__u"), col("__t").as("from_type"),
        col("__sec").as("__s1"))
      .join(base.select(col("__u"), col("__t").as("to_type"),
        col("__sec").as("__s2")), Seq("__u"))
      .filter(col("from_type") =!= col("to_type") &&
        col("__s2") > col("__s1") &&
        col("__s2") <= col("__s1") + maxGapSec)
      .select(col("__u"), col("from_type"), col("to_type")).distinct()
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_seq_users"))
    seqUsers.join(broadcast(typeUsers), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_from_users"),
        col("n_seq_users"),
        call_function("div", col("n_seq_users") * 1000000L,
          col("n_from_users")).as("confidence_ppm"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * counts and conditional probabilities of (from_type -> to_type) steps,
    * ordered by event time with an id tie-break (total order — the funnel
    * tie-break lesson). The behavioral-model summary behind "what follows
    * a view?" analyses and synthetic-sequence generators.
    *
    * Shape: one shuffle on the user key for the lag window, then a narrow
    * roll-up on the (from, to) pair; probabilities come from a
    * BROADCAST-joined per-from total (the from-type cardinality is the
    * event-type vocabulary — tiny by construction), not a second window
    * over the pair table.
    */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts",
      idCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(col(tsCol).asc, col(idCol).asc)
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__tot"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("__tot")).as("p"))
  }

  /** CUSUM drift detection over a per-key daily series: the running sum of
    * scaled deviations from the key's own mean, the classic changepoint
    * statistic (Page 1954) — a sustained rate shift accumulates linearly
    * while noise cancels. Exact integer arithmetic: values scale by
    * `scale`, the mean is an integer division, and the cumsum is a window
    * sum — engine-identical everywhere, no floats.
    *
    * One shuffle on the key; the mean rides a broadcast join (key
    * cardinality = the monitored dimension, small by construction); the
    * cumsum shares the key partitioning.
    */
  def cusum(series: DataFrame, keys: Seq[String], orderCol: Column,
      valueCol: Column, scale: Long = 1000L): DataFrame = {
    require(keys.nonEmpty, "cusum needs at least one key column")
    require(scale >= 1, s"scale: $scale")
    val base = series.select(
      keys.map(col) :+ orderCol.as("__ord") :+
        (valueCol.cast("long") * scale).as("__v"): _*)
    val means = base.groupBy(keys.map(col): _*)
      .agg(sum(col("__v")).as("__sum"), count(lit(1)).as("__n"))
      .select(keys.map(col) :+ expr("__sum div __n").as("__mean"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ord").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    base.join(broadcast(means), keys)
      .withColumn("cusum", sum(col("__v") - col("__mean")).over(w))
      .select(keys.map(col) :+ col("__ord").as("ord") :+
        (col("__v")).as("scaled_value") :+ col("cusum"): _*)
  }

  /** Multi-touch conversion attribution: for every conversion event, the
    * touch events of the same user inside a lookback window share the
    * credit — first-touch and last-touch counts plus LINEAR credit, the
    * three classic models, rolled up per touch type. Linear credit is
    * exact integer milli-units: each conversion hands every touch
    * `cnt * 1000 div total` (integer division, deterministic on any
    * engine — no float fractions to drift).
    *
    * Shape: conversions and touches join on the USER key with the window
    * predicate riding along (user-keyed equi join — never a time theta
    * join), then all per-conversion statistics (first/last picks and the
    * touch total) come from windows over ONE conv-keyed shuffle; the
    * final per-type roll-up is narrow. First/last picks tie-break on
    * (ts, event_id) — a total order, so the attribution is exact, not
    * partition-luck. A user with no touches before a conversion simply
    * contributes nothing (no NULL credit rows).
    */
  def attribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], lookbackDays: Int,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    require(!touchTypes.contains(conversionType),
      s"'$conversionType' cannot be both conversion and touch")
    require(lookbackDays >= 1, s"lookbackDays: $lookbackDays")
    val convs = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("__u"), col(idCol).as("__conv"),
        col(tsCol).as("__cts"))
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(typeCol).as("touch"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
    val joined = touches.join(convs, Seq("__u"))
      .filter(col("__ts") < col("__cts") &&
        col("__ts") >= col("__cts") - expr(s"INTERVAL $lookbackDays DAYS"))
    val byConv = org.apache.spark.sql.expressions.Window.partitionBy(col("__conv"))
    val fw = byConv.orderBy(col("__ts").asc, col("__id").asc)
    val lw = byConv.orderBy(col("__ts").desc, col("__id").desc)
    joined
      .withColumn("__rf", row_number().over(fw))
      .withColumn("__rl", row_number().over(lw))
      .withColumn("__total", count(lit(1)).over(byConv))
      .groupBy(col("__conv"), col("touch"))
      .agg(count(lit(1)).as("__cnt"), max(col("__total")).as("__tot"),
        max(when(col("__rf") === 1, 1L).otherwise(0L)).as("__isf"),
        max(when(col("__rl") === 1, 1L).otherwise(0L)).as("__isl"))
      .groupBy(col("touch").as("event_type"))
      .agg(sum(col("__isf")).as("first_touch"),
        sum(col("__isl")).as("last_touch"),
        sum(expr("__cnt * 1000 div __tot")).as("linear_milli"))
  }

  /** Time-decay attribution, completing the [[attribution]] trio's fourth
    * classic model: a touch `a` whole days older than its conversion earns
    * weight `1000 >> min(a div halflifeDays, 9)` milli — an exact
    * day-granular halving schedule (the continuous `2^(-t/h)` discretized
    * to integer arithmetic so credit is reproducible on any engine; the
    * shift floor at 9 keeps >9-halvings from vanishing below integer
    * resolution non-monotonically). Each conversion splits exactly one
    * unit of credit: touch share = `w * 1e6 div sum(w)` micro-units.
    *
    * Same scale shape as [[attribution]]: user-keyed equi join with the
    * window predicate riding along, one conv-keyed window for the weight
    * total, narrow roll-up.
    */
  def timeDecayAttribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], lookbackDays: Int, halflifeDays: Int = 1,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(touchTypes.nonEmpty, "timeDecayAttribution needs touch types")
    require(!touchTypes.contains(conversionType),
      s"'$conversionType' cannot be both conversion and touch")
    require(lookbackDays >= 1 && halflifeDays >= 1,
      s"lookbackDays $lookbackDays halflifeDays $halflifeDays")
    val convs = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("__u"), col(idCol).as("__conv"),
        col(tsCol).as("__cts"))
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(typeCol).as("touch"),
        col(tsCol).as("__ts"))
    val joined = touches.join(convs, Seq("__u"))
      .filter(col("__ts") < col("__cts") &&
        col("__ts") >= col("__cts") - expr(s"INTERVAL $lookbackDays DAYS"))
      .withColumn("__age",
        floor((unix_micros(col("__cts")) - unix_micros(col("__ts"))) /
          lit(86400000000L)).cast("long"))
      .withColumn("__w", expr(
        s"shiftright(1000L, cast(least(__age div $halflifeDays, 9L) as int))"))
    val byConv = org.apache.spark.sql.expressions.Window.partitionBy(col("__conv"))
    joined
      .withColumn("__tot", sum(col("__w")).over(byConv))
      .groupBy(col("__conv"), col("touch"), col("__tot"))
      .agg(sum(col("__w")).as("__wsum"), count(lit(1)).as("__cnt"))
      .groupBy(col("touch").as("event_type"))
      .agg(sum(col("__cnt")).as("n_touches"),
        sum(expr("__wsum * 1000000 div __tot")).as("decay_micro"))
  }

  /** Position-based (U-shaped) attribution — the fifth model of the
    * family: the first and last touches each take `endMilli` of the
    * credit, interior touches split the remainder evenly (40/20/40 at the
    * default). Degenerate journeys keep the unit sum exact: a single
    * touch takes 1000; a two-touch journey splits end credit only
    * (`endMilli` each + the interior remainder split across the two ends'
    * div — here the whole remainder goes to the FIRST touch, the
    * deterministic convention an oracle replays). Same join/window shape
    * as [[attribution]].
    */
  def positionBasedAttribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], lookbackDays: Int, endMilli: Long = 400L,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(touchTypes.nonEmpty, "positionBasedAttribution needs touch types")
    require(!touchTypes.contains(conversionType),
      s"'$conversionType' cannot be both conversion and touch")
    require(lookbackDays >= 1, s"lookbackDays: $lookbackDays")
    require(endMilli >= 0 && endMilli * 2 <= 1000L, s"endMilli: $endMilli")
    val convs = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("__u"), col(idCol).as("__conv"),
        col(tsCol).as("__cts"))
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("__u"), col(typeCol).as("touch"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
    val joined = touches.join(convs, Seq("__u"))
      .filter(col("__ts") < col("__cts") &&
        col("__ts") >= col("__cts") - expr(s"INTERVAL $lookbackDays DAYS"))
    val byConv = org.apache.spark.sql.expressions.Window.partitionBy(col("__conv"))
    val fw = byConv.orderBy(col("__ts").asc, col("__id").asc)
    val lw = byConv.orderBy(col("__ts").desc, col("__id").desc)
    val mid = lit(1000L) - lit(2L) * endMilli
    val w = joined
      .withColumn("__rf", row_number().over(fw))
      .withColumn("__rl", row_number().over(lw))
      .withColumn("__total", count(lit(1)).over(byConv))
      .withColumn("__credit",
        when(col("__total") === 1L, lit(1000L))
          .when(col("__total") === 2L,
            // two touches: ends take endMilli each, the interior share
            // lands on the FIRST touch (deterministic remainder home)
            when(col("__rf") === 1L, lit(endMilli) + mid).otherwise(lit(endMilli)))
          .when(col("__rf") === 1L || col("__rl") === 1L, lit(endMilli))
          .otherwise(call_function("div", mid, col("__total") - 2L)))
    w.groupBy(col("touch").as("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("__credit")).as("position_milli"))
  }

  /** Markov-chain (removal-effect) attribution — the data-driven model
    * beside the heuristic four ([[attribution]], [[timeDecayAttribution]]):
    * user journeys become a first-order chain over
    * `start -> channels... -> conv|null`, and a channel's credit is its
    * REMOVAL EFFECT — how much conversion probability disappears when the
    * channel is deleted (its transitions redirect to `null`).
    *
    * Shape: journey extraction + transition counting is the distributed
    * part (one user-keyed window pass, rows after the first conversion
    * dropped); the (channels+3)^2 transition-count matrix is a BOUNDED
    * driver collect (the codebook bound class), and absorption
    * probabilities come from `iterations` steps of deterministic
    * driver-side vector iteration. Every float op is order-pinned to the
    * canonical state order (start, channels..., conv, null) so an oracle
    * replaying the same iteration bit-matches: probabilities are
    * `count/count` single divisions, each step's component is a
    * left-folded sum of products in canonical source order.
    *
    * Output: one row per channel — p_conv of the full chain, p_conv with
    * the channel removed, the removal effect (difference), and the
    * normalized attribution share (per-mille of the summed effects,
    * summed in canonical channel order).
    */
  def markovRemovalEffect(events: DataFrame, conversionType: String,
      channels: Seq[String], iterations: Int = 50,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(channels.nonEmpty && !channels.contains(conversionType),
      s"channels $channels / conversion '$conversionType'")
    require(iterations >= 1 && iterations <= 1000, s"iterations: $iterations")
    val relevant = events
      .filter(col(typeCol).isin((channels :+ conversionType): _*))
      .select(col(userCol).as("__u"), col(typeCol).as("__t"),
        col(tsCol).as("__ts"), col(idCol).as("__id"))
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("__ts").asc, col("__id").asc)
    // rows strictly after the first conversion leave the journey
    val seqd = relevant
      .withColumn("__convs_before",
        count(when(col("__t") === conversionType, 1)).over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)))
      .filter(col("__convs_before") === 0)
      .withColumn("__src", coalesce(lag(col("__t"), 1).over(byUser), lit("start")))
      .withColumn("__dst",
        when(col("__t") === conversionType, lit("conv")).otherwise(col("__t")))
      .withColumn("__is_last",
        lead(col("__t"), 1).over(byUser).isNull)
    val steps = seqd.select(col("__src"), col("__dst"))
      .unionByName(
        // journeys that never convert terminate in the null state
        seqd.filter(col("__is_last") && col("__dst") =!= "conv")
          .select(col("__dst").as("__src"), lit("null").as("__dst")))
    val counts = steps.groupBy(col("__src"), col("__dst"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // ---- bounded driver-side absorption iteration, order-pinned ----
    val states = ("start" +: channels) :+ "conv" :+ "null"
    def pConv(removed: Option[String]): Double = {
      // removing a channel redirects ALL its outgoing mass to null and
      // every transition INTO it to null as well (the standard removal)
      def cnt(s: String, d: String): Long = counts.getOrElse((s, d), 0L)
      val outTotals = states.map(s => s ->
        states.foldLeft(0L)((a, d) => a + cnt(s, d))).toMap
      var p = states.map(s => if (s == "start") 1.0 else 0.0).toArray
      var absorbed = 0.0
      var it = 0
      while (it < iterations) {
        val next = new Array[Double](states.size)
        states.zipWithIndex.foreach { case (src, si) =>
          if (p(si) != 0.0 && !removed.contains(src)) {
            val tot = outTotals(src)
            if (tot > 0L) {
              states.zipWithIndex.foreach { case (dst, di) =>
                val n = cnt(src, dst)
                if (n > 0L) {
                  val mass = p(si) * (n.toDouble / tot.toDouble)
                  val target = if (removed.contains(dst)) states.size - 1 else di
                  next(target) += mass
                }
              }
            }
          }
        }
        absorbed += next(states.indexOf("conv"))
        next(states.indexOf("conv")) = 0.0
        next(states.indexOf("null")) = 0.0
        next(states.indexOf("start")) = 0.0
        p = next
        it += 1
      }
      absorbed
    }
    val pFull = pConv(None)
    val rows = channels.map { c =>
      val pr = pConv(Some(c))
      (c, pFull, pr, pFull - pr)
    }
    val totalRe = rows.foldLeft(0.0)((a, r) => a + r._4)
    val spark = events.sparkSession
    import spark.implicits._
    rows.map { case (c, pf, pr, re) =>
      (c, pf, pr, re, if (totalRe > 0.0) re / totalRe else Double.NaN)
    }.toDF("channel", "p_conv_full", "p_conv_removed", "removal_effect",
      "attribution_share")
  }

  /** Top-k frequent session paths: sessionize on an inactivity gap, read
    * off each session's first `maxSteps` event types in time order as a
    * `a>b>c` path string, and count sessions per path. The classic
    * "what do users actually do" report, and the batch twin of the
    * stateful sessionizer in [[graft.streaming.EventsStream]].
    *
    * Shape: session ids are a gap-flag cumsum and step ranks a second
    * window over the SAME (user-keyed, time-ordered) sort — one shuffle,
    * one sort for both. The path string is built by an in-group
    * array_sort on the (ts, event_id) total order (collect_list order is
    * partition-dependent; the sort makes it deterministic), and the
    * final (path, count) roll-up is narrow. `orderBy(n desc, path)`
    * + limit compiles to TakeOrdered — no single-partition window.
    */
  def sessionPaths(events: DataFrame, gapMinutes: Int, maxSteps: Int,
      topK: Int, userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(gapMinutes >= 1, s"gapMinutes: $gapMinutes")
    require(maxSteps >= 1, s"maxSteps: $maxSteps")
    require(topK >= 1, s"topK: $topK")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    val sessioned = events
      // exact integer microseconds (unix_micros), not cast-to-seconds:
      // second truncation would disagree with an exact-interval oracle on
      // sub-second boundary gaps
      .withColumn("__gap",
        when(unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(w)
          > gapMinutes * 60000000L, 1L).otherwise(
          when(lag(col(tsCol), 1).over(w).isNull, 1L).otherwise(0L)))
      .withColumn("__sess", sum(col("__gap")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("__step", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(userCol), col("__sess"))
          .orderBy(col(tsCol).asc, col(idCol).asc)))
      .filter(col("__step") <= maxSteps)
    sessioned
      .groupBy(col(userCol), col("__sess"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col(tsCol).as("ts"),
          col(idCol).as("id"), col(typeCol).as("t")))),
        e => e("t")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(topK)
  }

  /** Entry / exit / bounce profile per event type: how many sessions OPEN
    * with this type, CLOSE with it, and consist of it alone (the bounce) —
    * the landing/exit-page report over [[sessionPaths]]' sessionization
    * (same gap rule, same exact-microsecond boundary).
    *
    * One user-keyed sort carries the whole computation: the session
    * cumsum and both endpoint picks ride the identical window frame, and
    * the endpoints collapse via `min_by`/`max_by` on the (ts, id) struct —
    * deterministic because event ids are unique. Session count per row
    * comes from the same rollup. After the per-session rollup (bounded by
    * session count, not events) three tiny per-type rollups full-join on
    * the type so a type that only ever EXITS still reports its zero
    * entries.
    */
  def sessionStats(events: DataFrame, gapMinutes: Int,
      userCol: String = "user_id", typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id"): DataFrame = {
    require(gapMinutes >= 1, s"gapMinutes: $gapMinutes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol).asc, col(idCol).asc)
    val sessions = events
      .withColumn("__gap",
        when(unix_micros(col(tsCol)) - lag(unix_micros(col(tsCol)), 1).over(w)
          > gapMinutes * 60000000L, 1L).otherwise(
          when(lag(col(tsCol), 1).over(w).isNull, 1L).otherwise(0L)))
      .withColumn("__sess", sum(col("__gap")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("__sess"))
      .agg(
        min_by(col(typeCol), struct(col(tsCol), col(idCol))).as("first_type"),
        max_by(col(typeCol), struct(col(tsCol), col(idCol))).as("last_type"),
        count(lit(1)).as("n_events"))
    val entries = sessions.groupBy(col("first_type").as("event_type"))
      .agg(count(lit(1)).as("n_entries"))
    val exits = sessions.groupBy(col("last_type").as("event_type"))
      .agg(count(lit(1)).as("n_exits"))
    val bounces = sessions.filter(col("n_events") === 1)
      .groupBy(col("first_type").as("event_type"))
      .agg(count(lit(1)).as("n_bounces"))
    entries
      .join(exits, Seq("event_type"), "full_outer")
      .join(bounces, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_entries"), lit(0L)).as("n_entries"),
        coalesce(col("n_exits"), lit(0L)).as("n_exits"),
        coalesce(col("n_bounces"), lit(0L)).as("n_bounces"))
  }

  /** Seasonally-adjusted robust outliers: subtract each (type, day-of-week)
    * baseline mean from the metric, then flag residuals beyond k·MAD of
    * their type — anomaly detection that a weekly cycle cannot fool (a
    * quiet Sunday is normal FOR Sundays; the raw-value z-score would page
    * on it every week). The robust complement to [[cusum]]'s sustained-
    * shift detector.
    *
    * Exactness: values quantize to integer cents (floor(v·scale + 0.5)),
    * the baseline is an integer `div` mean, and day-of-week is
    * `epoch-days mod 7` — not the engine-specific dayofweek() (Spark
    * counts Sunday=1, DuckDB Sunday=0). MAD flagging rides
    * [[graft.pipeline.Stats.madOutliers]] (exact rolled-up quantiles).
    *
    * Shape: one roll-up to (type, dow) baselines — 7·|types| rows,
    * broadcast back — then the madOutliers quantile pass. No window over
    * raw events.
    */
  def seasonalOutliers(events: DataFrame, typeCol: String = "event_type",
      tsCol: String = "ts", idCol: String = "event_id",
      valueCol: Column = col("value"), k: Long = 3,
      scale: Int = 100): DataFrame = {
    require(scale >= 1, s"scale: $scale")
    val base = events.select(col(idCol).cast("long").as("event_id"),
      col(typeCol).as("event_type"),
      (datediff(to_date(col(tsCol)), lit("1970-01-01")) % 7).as("dow"),
      floor(valueCol * scale + lit(0.5)).cast("long").as("__cents"))
      .filter(col("__cents").isNotNull)
    val means = base.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("__cents")).as("__s"), count(lit(1)).as("__n"))
      .select(col("event_type"), col("dow"), expr("__s div __n").as("__mean"))
    val resid = base.join(broadcast(means), Seq("event_type", "dow"))
      .select(col("event_id"), col("event_type"), col("dow"),
        (col("__cents") - col("__mean")).as("residual"))
    graft.pipeline.Stats.madOutliers(resid, Seq("event_type"), col("residual"), k)
      .select(col("event_id"), col("event_type"), col("dow"),
        col("residual"), col("med"), col("mad"))
  }

  /** Cohort retention: users grouped by first-active day, counted on each
    * subsequent active day up to `horizonDays` out. Emits
    * (cohort_day, k, n_users); the user-day activity set is de-duplicated
    * first, so the final count is a plain COUNT(*) — no distinct-expand on
    * the wide aggregate.
    *
    * Shape: two aggregations and the join all hash on user_id (AQE reuses
    * the co-partitioning), then one narrow roll-up on (cohort_day, k).
    */
  def retention(events: DataFrame, horizonDays: Int,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(horizonDays >= 0, s"horizonDays: $horizonDays")
    val firstDay = events.groupBy(col(userCol).as("user_id"))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    events.select(col(userCol).as("user_id"), to_date(col(tsCol)).as("day"))
      .distinct()
      .join(firstDay, "user_id")
      .withColumn("k", datediff(col("day"), col("cohort_day")))
      .filter(col("k") <= horizonDays)
      .groupBy(col("cohort_day"), col("k"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cohort LTV curves: users cohorted by FIRST-ACTIVITY day, each
    * cohort's cumulative revenue per user at every day-offset k — the
    * payback/LTV readout that prices acquisition ("cohort X recovered
    * CAC by day 30"), the revenue-weighted big sibling of [[retention]]'s
    * headcounts. Exact: revenue accumulates in integer units, and
    * `ltv_per_user_micro = cum_units*1e6 div cohort_size` is one
    * non-negative truncating division per emitted row. Offsets with no
    * revenue emit nothing (the curve is a step function; consumers
    * forward-fill against a spine if they need dense k).
    *
    * Shape: a user-keyed first-day agg, one equi-join back, a
    * (cohort, k) partial-agg rollup, then a per-cohort cumulative window
    * over day OFFSETS — calendar-bounded (k <= horizonDays), parallel
    * across cohorts.
    */
  def cohortLtv(events: DataFrame, userCol: Column, tsCol: Column,
      valueUnits: Column, horizonDays: Int): DataFrame = {
    require(horizonDays >= 0, s"horizonDays: $horizonDays")
    val base = events.select(userCol.as("user_id"),
      to_date(tsCol).as("day"), valueUnits.cast("long").as("v"))
      .filter(col("user_id").isNotNull && col("day").isNotNull)
    val firstDay = base.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
      .pinLazy() // feeds the cohort sizes and the k join
    val sizes = firstDay.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val rev = base.join(firstDay, "user_id")
      .withColumn("k", datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("k") <= horizonDays)
      .groupBy(col("cohort_day"), col("k"))
      .agg(sum(coalesce(col("v"), lit(0L))).as("rev_units"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cohort_day")).orderBy(col("k").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    rev.withColumn("cum_units", sum(col("rev_units")).over(w))
      .join(broadcast(sizes), "cohort_day")
      .withColumn("ltv_per_user_micro",
        call_function("div", col("cum_units") * 1000000L, col("n_users")))
      .select(col("cohort_day"), col("k"), col("n_users"), col("rev_units"),
        col("cum_units"), col("ltv_per_user_micro"))
  }

  /** Churn-definition sensitivity: for each candidate inactivity
    * threshold T, the share of users whose gap between their LAST
    * activity and the corpus horizon exceeds T — the sweep that picks a
    * churn definition from the data (the elbow where the rate stops
    * falling is the natural inactivity cutoff) instead of folklore.
    * Exact: per-user gaps roll up to a DISTINCT-gap frame first, the
    * threshold sweep is a broadcast explode over that tiny rollup, and
    * `churn_ppm = churned*1e6 div n_users` truncates non-negatively.
    *
    * Shape: one user-keyed max-day agg, a gap rollup bounded by the
    * calendar, thresholds x distinct-gaps in one broadcast pass —
    * nothing rescans raw events per threshold.
    */
  def churnSensitivity(events: DataFrame, userCol: Column, dayCol: Column,
      thresholds: Seq[Int]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(_ >= 0),
      s"thresholds: $thresholds")
    require(thresholds.distinct == thresholds, s"duplicate thresholds")
    val lastDay = events
      .select(userCol.as("user_id"), dayCol.cast("long").as("day"))
      .filter(col("user_id").isNotNull && col("day").isNotNull)
      .groupBy(col("user_id")).agg(max(col("day")).as("last_day"))
    val md = lastDay.agg(max(col("last_day")).as("__md"))
    val gaps = lastDay.crossJoin(broadcast(md))
      .groupBy((col("__md") - col("last_day")).as("gap"))
      .agg(count(lit(1)).as("cnt"))
    gaps
      .select(col("gap"), col("cnt"),
        explode(array(thresholds.map(t => lit(t.toLong)): _*))
          .as("threshold_days"))
      .groupBy(col("threshold_days"))
      .agg(sum(col("cnt")).as("n_users"),
        coalesce(sum(when(col("gap") > col("threshold_days"), col("cnt"))),
          lit(0L)).as("n_churned"))
      .withColumn("churn_ppm",
        call_function("div", col("n_churned") * 1000000L, col("n_users")))
  }

  /** Rolling window-active users (the WAU/MAU family) with same-day DAU
    * and the DAU/WAU stickiness ratio, EXACT — no sketch — via the
    * bounded-fanout trick: distinct (user, day) first, then each active
    * day claims the `window` report days it is visible to (explode ×
    * window), distinct again on (user, report_day), count. A rolling
    * COUNT(DISTINCT) window would re-scan raw rows per day and cannot
    * partial-aggregate; this shape is three keyed rollups whose widest
    * intermediate is `window * |active (user, day)|` narrow rows —
    * map-side combinable end to end, the standard exact-WAU recipe at
    * warehouse scale.
    *
    * Report days are clamped to the data's max day (the ramp-down tail
    * past the last observation is noise, not reach); days with zero
    * activity in the whole trailing window emit nothing — a calendar
    * spine join adds them if a dashboard needs explicit zeros.
    * `stickiness_ppm = dau*1e6 div wau` (both non-negative, truncation
    * engine-agnostic); wau >= dau >= 0 and wau >= 1 on every emitted row.
    */
  def rollingActiveUsers(events: DataFrame, userCol: Column, dayCol: Column,
      window: Int = 7): DataFrame = {
    require(window >= 1 && window <= 370, s"window: $window")
    val ud = events
      .select(userCol.cast("long").as("user"), dayCol.cast("long").as("day"))
      .filter(col("user").isNotNull && col("day").isNotNull)
      .distinct()
      .pinLazy() // feeds the explode, DAU, and the max-day bound
    val mx = ud.agg(max(col("day")).as("__md"))
    val wau = ud
      .select(col("user"),
        explode(sequence(col("day"), col("day") + lit(window - 1))).as("day"))
      .distinct()
      .crossJoin(broadcast(mx)).filter(col("day") <= col("__md"))
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"),
        call_function("div", coalesce(col("dau"), lit(0L)) * 1000000L,
          col("wau")).as("stickiness_ppm"))
  }

  /** Arrival-lateness audit: for each stream partition, replay events in
    * ARRIVAL order (the ingestion sequence column) and measure how far
    * behind the running event-time high-watermark each event arrives —
    * the empirical distribution a Structured Streaming watermark delay
    * (`withWatermark`) must be tuned against: `n_late` events beyond
    * `thresholdSec` are exactly the rows that delay would drop, and the
    * p99/max tell you what delay retains 99%/all of them.
    *
    * `late_sec = (run_max(ts_us) - ts_us) div 1e6` over a per-partition
    * arrival-ordered running-max window. This is deliberately a raw-row
    * window: lateness is DEFINED by the sequential arrival replay, so the
    * sort is irreducible — but it partitions on the stream's partition
    * key (watermarks advance per source partition), which at scale is a
    * Kafka-partition-grained key, parallel and calendar-unbounded. The
    * scored frame is pinned once (it feeds both the per-partition
    * aggregate and the exact-p99 rollup).
    */
  def latenessAudit(events: DataFrame, partCol: Column, arrivalCol: Column,
      tsCol: Column, thresholdSec: Long): DataFrame = {
    require(thresholdSec >= 0, s"thresholdSec: $thresholdSec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("__arr").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val scored = events
      .select(partCol.as("part"), arrivalCol.as("__arr"),
        unix_micros(tsCol).as("__ts_us"))
      .withColumn("late_sec",
        call_function("div", max(col("__ts_us")).over(w) - col("__ts_us"),
          lit(1000000L)))
      .pinLazy()
    val agg = scored.groupBy(col("part")).agg(
      count(lit(1)).as("n_events"),
      coalesce(sum(when(col("late_sec") > thresholdSec, 1L)), lit(0L))
        .as("n_late"),
      max(col("late_sec")).as("max_late_sec"))
    val p99 = graft.pipeline.Stats
      .exactQuantiles(scored, Seq("part"), col("late_sec"), Seq(990))
      .select(col("part"), col("value").as("p99_late_sec"))
    agg.join(p99, "part")
  }

  /** Audience overlap matrix: for every pair of event types, the exact
    * Jaccard of their USER sets — the "are my segments the same people?"
    * readout behind budget allocation and cross-sell targeting (distinct
    * from [[graft.operators.Features]] basket lift, which counts
    * co-occurrence per basket and measures association strength; this
    * measures population overlap). `type_a < type_b` (string order)
    * emits each unordered pair once.
    *
    * Shape: one distinct (type, user) rollup, a self equi-join ON THE
    * USER key (never a type-pair cartesian — the join output is bounded
    * by sum over users of (their type count choose 2), type vocabulary
    * being small by construction), one pair rollup, broadcast per-type
    * sizes for the union term: `|A u B| = n_a + n_b - n_common`.
    */
  def audienceOverlap(events: DataFrame, typeCol: Column,
      userCol: Column): DataFrame = {
    val tu = events.filter(typeCol.isNotNull && userCol.isNotNull)
      .select(typeCol.as("__t"), userCol.as("__u")).distinct()
      .pinLazy() // feeds sizes, and both sides of the pair join
    val sizes = tu.groupBy(col("__t")).agg(count(lit(1)).as("n"))
    val pairs = tu.select(col("__t").as("type_a"), col("__u"))
      .join(tu.select(col("__t").as("type_b"), col("__u")), Seq("__u"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(broadcast(sizes.select(col("__t").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("__t").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_common"),
        call_function("div", col("n_common") * 1000000L,
          col("n_a") + col("n_b") - col("n_common")).as("jaccard_ppm"))
  }

  /** Odds-ratio matrix over event-type pairs: the full 2x2 user
    * contingency (`both / a-only / b-only / neither`) and the exact
    * cross-product odds ratio `n11*n00*1000 div (n10*n01)` — the
    * epidemiology-grade association strength [[audienceOverlap]]'s
    * Jaccard flattens (Jaccard ignores the `neither` cell, so it cannot
    * distinguish "A and B co-occur more than chance" from "A and B are
    * simply both common"). OR > 1000 milli = positive association. A
    * zero off-diagonal cell leaves the OR NULL (infinite/undefined —
    * visible, not clamped); Haldane-correct downstream if you need a
    * finite estimate.
    *
    * Shape: the [[audienceOverlap]] user-keyed self-join for `n11`,
    * broadcast per-type user counts and the 1-row universe count for
    * the margins — the other three cells are arithmetic.
    */
  def oddsRatioMatrix(events: DataFrame, typeCol: Column,
      userCol: Column): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val tu = events.filter(typeCol.isNotNull && userCol.isNotNull)
      .select(typeCol.as("__t"), userCol.as("__u")).distinct()
      .pinLazy()
    val nAll = tu.select(col("__u")).distinct()
      .agg(count(lit(1)).as("__N"))
    val sizes = tu.groupBy(col("__t")).agg(count(lit(1)).as("n"))
    val pairs = tu.select(col("__t").as("type_a"), col("__u"))
      .join(tu.select(col("__t").as("type_b"), col("__u")), Seq("__u"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n11"))
    pairs
      .join(broadcast(sizes.select(col("__t").as("type_a"),
        col("n").as("__na"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("__t").as("type_b"),
        col("n").as("__nb"))), Seq("type_b"))
      .crossJoin(broadcast(nAll))
      .withColumn("n10", col("__na") - col("n11"))
      .withColumn("n01", col("__nb") - col("n11"))
      .withColumn("n00",
        col("__N") - col("__na") - col("__nb") + col("n11"))
      .select(col("type_a"), col("type_b"), col("n11"), col("n10"),
        col("n01"), col("n00"),
        when(col("n10") > 0L && col("n01") > 0L,
          call_function("div",
            dec(col("n11")) * dec(col("n00")) * dec(lit(1000L)),
            dec(col("n10")) * dec(col("n01"))).cast("long"))
          .as("odds_ratio_milli"))
  }

  /** Growth accounting (the standard DAU decomposition): every active
    * (user, day) is exactly one of NEW (first-ever day), RETAINED (also
    * active the previous calendar day), or RESURRECTED (returning after a
    * gap) — so `dau = new + retained + resurrected` holds by construction
    * — plus `churned` = previous day's actives who did not return, from
    * the identity `churned_t = dau_{t-1} - retained_t`. The
    * product-growth dashboard in one pass, all exact integer/date
    * arithmetic.
    *
    * `dayCol` is a day index (e.g. days since epoch). Emission is
    * step-wise over days PRESENT in the data (the [[cohortLtv]]
    * convention); a calendar day with zero actives simply has no row, and
    * the day after it reports `churned` against a zero coalesce.
    *
    * Shape: one distinct (user, day) rollup, one user-keyed window for
    * first/previous day (lag rides the sort), one day rollup, one self
    * equi-join on day-1 for the churn column. Shuffles on user then day —
    * both partial-agg keys.
    */
  def growthAccounting(events: DataFrame, userCol: Column,
      dayCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("__d").asc)
    val ud = events.filter(userCol.isNotNull && dayCol.isNotNull)
      .select(userCol.as("__u"), dayCol.cast("long").as("__d")).distinct()
      .withColumn("__first", min(col("__d")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("__prev", lag(col("__d"), 1).over(w))
    val daily = ud.groupBy(col("__d").as("day"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("__d") === col("__first"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("__prev") === col("__d") - 1L, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("__prev").isNotNull && col("__prev") < col("__d") - 1L,
          1L).otherwise(0L)).as("n_resurrected"))
    daily.join(daily.select(col("day") + 1L as "day",
        col("dau").as("__dau_prev")), Seq("day"), "left")
      .select(col("day"), col("dau"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        (coalesce(col("__dau_prev"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
  }

  /** Consecutive-day activity streaks (gaps-and-islands): per user the
    * number of distinct active days, the number of maximal consecutive-day
    * runs, the LONGEST run, and that run's earliest start day — the
    * engagement-mechanics readout (streak features predict retention and
    * power streak-based product loops). Island id is the classic
    * `day - row_number()` constant: consecutive days share it, any gap
    * shifts it; everything stays exact integers.
    *
    * Shape: distinct (user, day), one user-keyed window (row_number rides
    * the day sort), one (user, island) rollup, one user rollup with the
    * struct-argmax picking (longest, then earliest) — no second pass.
    */
  def activityStreaks(events: DataFrame, userCol: Column,
      dayCol: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("__d").asc)
    events.filter(userCol.isNotNull && dayCol.isNotNull)
      .select(userCol.as("__u"), dayCol.cast("long").as("__d")).distinct()
      .withColumn("__isl", col("__d") - row_number().over(w))
      .groupBy(col("__u"), col("__isl"))
      .agg(count(lit(1)).as("__len"), min(col("__d")).as("__start"))
      .groupBy(col("__u").as("user_id"))
      .agg(sum(col("__len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(struct(col("__len").as("l"), (-col("__start")).as("ns")))
          .as("__mx"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("__mx.l").as("max_streak"),
        (-col("__mx.ns")).as("max_streak_start"))
  }

  /** Burst (rate-limit/bot) audit: per user, the maximum number of events
    * inside ANY sliding `windowSec`-second window, plus the earliest
    * window-end second achieving it — the exact statistic a rate limiter
    * or bot filter is tuned against (p99 "events per hour" over fixed
    * calendar buckets UNDERCOUNTS bursts straddling a boundary; the
    * sliding max does not).
    *
    * Exact via ONE range-frame window per user: every event is a candidate
    * window END, `cnt = count over [sec - windowSec + 1, sec]` — the max
    * over event-anchored windows equals the max over all real-valued
    * windows because a sliding count only changes at event arrivals. Range
    * frames include same-second peers on both engines identically. The
    * argmax rides the same rollup as `max(struct(cnt, -sec))` — max count,
    * then earliest second, no second pass.
    *
    * Shape: one shuffle on the user key; frames are bounded by per-user
    * event volume inside `windowSec` — at warehouse scale the window is
    * minutes-sized, so frames stay small even for bots (the pathological
    * case this op exists to FIND).
    */
  def slidingBurst(events: DataFrame, userCol: Column, tsCol: Column,
      windowSec: Long): DataFrame = {
    require(windowSec >= 1, s"windowSec: $windowSec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("__sec").asc)
      .rangeBetween(-(windowSec - 1), 0)
    events.filter(userCol.isNotNull && tsCol.isNotNull)
      .select(userCol.as("__u"),
        call_function("div", unix_micros(tsCol), lit(1000000L)).as("__sec"))
      .withColumn("__cnt", count(lit(1)).over(w))
      .groupBy(col("__u").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("__cnt").as("c"), (-col("__sec")).as("ns"))).as("__mx"))
      .select(col("user_id"), col("n_events"),
        col("__mx.c").as("max_burst"),
        (-col("__mx.ns")).as("peak_sec"))
  }

  /** Exact Shapley-value attribution (Zhao, Mahboobi & Manji 2018,
    * arXiv:1804.05327), completing the attribution family's sixth model:
    * each channel earns the Shapley value of the coalition game whose
    * characteristic function is the OBSERVED conversion rate `v(S)` of
    * users whose channel-exposure set is exactly `S`; unseen coalitions
    * contribute `v = 0` (the paper's simplified/observed-coalition
    * convention — with a cumulative-count `v` the Shapley value provably
    * collapses to the linear model, so the rate form is the variant that
    * adds information beyond [[attribution]]'s linear_milli).
    *
    * `phi_i = (sum_{seen T : i in T}  W(|T|-1) v(T)
    *         - sum_{seen S : i notin S} W(|S|)  v(S)) div M!`,
    * `W(s) = s! (M-1-s)!` — the standard permutation weights. `v` is ppm
    * (one non-negative truncating div per coalition); the weighted sums
    * stay in LONG (bounded by `(M-1)! * 1e6 * #seen`, `M <= 12`
    * enforced); the ONE final division is sign-magnitude so Spark's
    * truncate-toward-zero agrees with the oracle's floor on either sign
    * (phi can legitimately be negative — a channel can depress observed
    * rates). Efficiency `sum_i phi_i = v(allChannels) - v(empty)` holds
    * exactly before the final truncation (spec-pinned). Users with no
    * event in `channels :+ conversionType` are out of the population;
    * conversion-only users form the empty coalition (the baseline rate).
    *
    * Shape: one user-keyed rollup (exposure set + converted flag), one
    * set-keyed rollup (<= 2^M rows), a cross join against the M-row
    * channel dim (broadcast by size), one M-row rollup. Only the first
    * rollup grows with the event count — the 100 TB cost is a single
    * partial-agg shuffle on the user key.
    */
  def shapleyAttribution(events: DataFrame, channels: Seq[String],
      conversionType: String, userCol: String = "user_id",
      typeCol: String = "event_type"): DataFrame = {
    require(channels.nonEmpty && channels.size <= 12 &&
      channels.distinct == channels, s"channels: $channels")
    require(!channels.contains(conversionType),
      s"'$conversionType' cannot be both conversion and channel")
    val m = channels.size
    def fact(i: Int): Long = (1 to i).map(_.toLong).product
    // element_at is safe here: the in-branch only sees 1 <= |T| <= M and
    // the out-branch only |S| <= M-1 (a set missing the probe channel
    // cannot be the full set), so both lookups are always in bounds.
    val wIn = array((1 to m).map(s => lit(fact(s - 1) * fact(m - s))): _*)
    val wOut = array((0 until m).map(s => lit(fact(s) * fact(m - 1 - s))): _*)
    val perUser = events
      .filter(col(userCol).isNotNull &&
        col(typeCol).isin((channels :+ conversionType): _*))
      .groupBy(col(userCol).as("__u"))
      .agg(
        array_sort(array_distinct(collect_list(
          when(col(typeCol) =!= conversionType, col(typeCol))))).as("chset"),
        max(when(col(typeCol) === conversionType, 1L).otherwise(0L))
          .as("__conv"))
    val v = perUser.groupBy(col("chset"))
      .agg(count(lit(1)).as("users"), sum(col("__conv")).as("convs"))
      .withColumn("v_ppm",
        call_function("div", col("convs") * 1000000L, col("users")))
    val chDim = events.sparkSession.createDataFrame(
      java.util.Arrays.asList(channels.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("channel",
          org.apache.spark.sql.types.StringType, nullable = false))))
    val sz = size(col("chset"))
    val contrib = when(array_contains(col("chset"), col("channel")),
        element_at(wIn, sz) * col("v_ppm"))
      .otherwise(-element_at(wOut, sz + 1) * col("v_ppm"))
    v.crossJoin(broadcast(chDim))
      .groupBy(col("channel"))
      .agg(sum(contrib).as("__s"))
      .select(col("channel"),
        when(col("__s") >= 0L, call_function("div", col("__s"), lit(fact(m))))
          .otherwise(-call_function("div", -col("__s"), lit(fact(m))))
          .as("shapley_ppm"))
  }
}
