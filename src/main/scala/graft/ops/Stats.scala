package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-10 statistical tier: grouped trend fitting, independence
  * testing, digit-distribution data-quality profiling, robust
  * (winsorized) location estimation, and Neyman sampling allocation.
  * All follow the repo's exactness discipline — corpus-scale work is
  * integer partial aggregation (cents as Long / DECIMAL), every
  * double is derived from exact integers with formula text shared
  * verbatim with the DuckDB oracle.
  */
object Stats {

  /** Exact floor-division of a Long sum of cents into dollars,
    * matching DuckDB's `//` (which floors) rather than Spark's `DIV`
    * (which truncates toward zero) — the two diverge on negative
    * totals, which are part of the hostile-data surface. pmod returns
    * a non-negative remainder, so the adjusted numerator is exactly
    * divisible and the integer DIV is exact at any magnitude (no
    * double ever enters the chain).
    */
  private def floorDivCents(sumExpr: String): Column =
    expr(s"($sumExpr - pmod($sumExpr, 100)) DIV 100")

  /** B79 — per-segment linear revenue trend: one OLS fit of daily
    * revenue (dollars) against day index PER market segment — the
    * grouped regression a portfolio review reads ("which segments are
    * growing?"). Slope/intercept from the classic normal equations on
    * exact integer moments: x = days since the global min order day
    * (calendar-small), y = daily dollars (Long); Σx, Σy, Σxy, Σx² are
    * exact Longs (x ≤ ~10⁴, y dollars — products < 2⁵³ even at 100 TB
    * daily rollups), so both engines derive the identical doubles.
    *
    * Scale shape: corpus work is ONE orders⋈customer equi-join and a
    * (segment, day) partial agg; the per-segment moment agg and the
    * 5-row fit frame are calendar/segment-bounded. Single-day
    * segments have a zero denominator → defined null slope.
    */
  def segmentTrend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
    val cust = Tables.load(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val minDay = orders.agg(min(to_date($"o_orderdate")).as("d0"))
    val daily = orders.join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"),
        to_date($"o_orderdate").as("day"))
      .agg(floorDivCents("sum(cents)").as("y"))
      .crossJoin(broadcast(minDay))
      .select($"segment", datediff($"day", $"d0").cast("long").as("x"),
        $"y")
    // decimal-cast BEFORE every Long×Long product (x·y per-row and
    // the n·sxx / sx·sx closed-form terms): daily dollars × day index
    // wraps a Long at the 100 TB scale; the oracle multiplies in
    // HUGEINT
    val m = daily.groupBy($"segment").agg(
      count(lit(1)).as("n_days"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x".cast("decimal(38,0)") * $"y").as("sxy"),
      sum($"x".cast("decimal(38,0)") * $"x").as("sxx"))
    val den = $"n_days" * $"sxx" - $"sx".cast("decimal(38,0)") * $"sx"
    val slope = ($"n_days" * $"sxy" -
      $"sx".cast("decimal(38,0)") * $"sy").cast("double") /
      den.cast("double")
    m.select($"segment", $"n_days",
        when(den > 0,
          floor(slope * 1000000.0 + 0.5) / 1000000.0).as("slope"),
        when(den > 0,
          floor((($"sy".cast("double") - slope * $"sx") / $"n_days")
            * 100.0 + 0.5) / 100.0).as("intercept"))
      .orderBy($"segment")
  }

  /** B80 — chi-square test of independence (event_type × day-of-week)
    * with Cramér's V: does activity MIX shift across the week, or
    * only volume (B58's profile shows totals; this tests the
    * interaction). The contingency grid is the cross join of the
    * DISTINCT types and dows actually present — zero-observed cells
    * included, as the test requires — with expected counts
    * rowTotal·colTotal/N. Every input is an integer count, so each
    * cell's contribution is the same double in both engines, and the
    * χ² total folds over the grid in SORTED (event_type, dow) order —
    * a plain float SUM would accumulate in engine-specific order and
    * can flip the 6dp floor on ulp-level seams (the round-10 anova
    * lesson); the grid is (types × 7)-bounded so the fold is cheap.
    */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_type",
        (dayofweek(timestamp_micros(expr("ts DIV 1000"))) - 1)
          .cast("long").as("dow"))
    val cells = ev.groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy($"event_type").agg(sum($"o").as("rt"))
    val cols = cells.groupBy($"dow").agg(sum($"o").as("ct"))
    val n = cells.agg(sum($"o").as("nn"))
    val grid = rows.crossJoin(cols).crossJoin(broadcast(n))
      .join(cells, Seq("event_type", "dow"), "left")
      .na.fill(0L, Seq("o"))
      // expected count as DOUBLE-first (rt·ct as a Long product would
      // wrap near 2^63 once row/col totals pass ~3·10⁹ — real at
      // 100 TB); identical IEEE order on the oracle side
      .select((($"o" - $"rt".cast("double") * $"ct" / $"nn") *
        ($"o" - $"rt".cast("double") * $"ct" / $"nn") /
        ($"rt".cast("double") * $"ct" / $"nn"))
        .as("contrib"), $"event_type", $"dow", $"nn")
    // the grid is (types × 7)-bounded, so set sizes count its distinct
    // keys without the distinct-aggregate rewrite, whose Expand orders
    // its groups by expression-id hashes (two plan forms per build)
    grid.agg(
        size(collect_set($"event_type")).cast("bigint").as("n_types"),
        size(collect_set($"dow")).cast("bigint").as("n_dows"),
        max($"nn").as("n_events"),
        sort_array(collect_list(struct($"event_type", $"dow",
          $"contrib"))).as("cs"))
      .select($"n_types", $"n_dows", $"n_events",
        aggregate($"cs", lit(0.0),
          (a, x) => a + x.getField("contrib")).as("chi2raw"))
      .select($"n_types", $"n_dows", $"n_events",
        (floor($"chi2raw" * 1000000.0 + 0.5) / 1000000.0).as("chi2"),
        (($"n_types" - 1) * ($"n_dows" - 1)).as("dof"),
        when(least($"n_types", $"n_dows") > 1,
          floor(sqrt($"chi2raw" /
            ($"n_events" * (least($"n_types", $"n_dows") - 1)))
            * 1000000.0 + 0.5) / 1000000.0).as("cramers_v"))
  }

  /** B81 — Benford first-digit profile of order totals: the classic
    * fabricated-data / corruption screen. Real multi-scale financial
    * amounts follow P(d) = log₁₀(1+1/d); a flat or spiked digit
    * histogram flags synthetic or truncated feeds before they poison
    * downstream stats. First significant digit comes from the DECIMAL
    * STRING of exact integer cents — no float log in the digit path,
    * so both engines bucket identically; one partial-agg pass, 9
    * output rows.
    */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = Tables.load(spark, dir, "orders")
      .select(floor(abs($"o_totalprice") * 100.0 + 0.5).cast("long")
        .as("cents"))
      .filter($"cents" > 0)
      .select(substring($"cents".cast("string"), 1, 1).cast("long")
        .as("digit"))
    val tot = digits.agg(count(lit(1)).as("nn"))
    digits.groupBy($"digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select($"digit", $"n",
        (floor($"n".cast("double") / $"nn" * 1000000.0 + 0.5)
          / 1000000.0).as("share"),
        (floor(log10(lit(1.0) + lit(1.0) / $"digit") * 1000000.0 + 0.5)
          / 1000000.0).as("benford_p"),
        (floor(($"n".cast("double") / $"nn" -
          log10(lit(1.0) + lit(1.0) / $"digit")) * 1000000.0 + 0.5)
          / 1000000.0).as("delta"))
      .orderBy($"digit")
  }

  /** B82 — 5% winsorized mean of the order total: the robust location
    * estimate that survives the heavy tail B49's Pareto view shows
    * (clamp the k = ⌊0.05n⌋ lowest and highest values to the
    * boundary order statistics, then average). The two boundary
    * values are fetched by the H7/B76 bucketed-offset rank selection
    * — value-range buckets, per-bucket row_number plus broadcast
    * cumulative offsets give exact global ranks without a global
    * sort, and only ranks k+1 and n−k are collected (bounded
    * artifact). The final mean is an exact integer-cents sum of the
    * clamped column — partitioning cannot move it.
    */
  def winsorizedMean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables.load(spark, dir, "orders")
      .select(floor($"o_totalprice" * 100.0 + 0.5).cast("long")
        .as("cents"))
    val statRow = vals.agg(count(lit(1)), min($"cents"), max($"cents"))
      .head()
    val n = statRow.getLong(0)
    if (n == 0L)
      return spark.range(0).select(lit(0L).as("n_orders"),
        lit(0L).as("n_clamped_each"), lit(0.0).as("lo_cut"),
        lit(0.0).as("hi_cut"), lit(0.0).as("winsorized_mean"),
        lit(0.0).as("raw_mean"))
    val k = n * 5L / 100L
    val wanted = Seq(k + 1, n - k).distinct
    val (mn, mx) = (statRow.getLong(1), statRow.getLong(2))
    val nB = 1024L
    val width = math.max((mx - mn) / nB + 1L, 1L)
    val bucketed = vals.withColumn("bkt", (($"cents" - mn) / width)
      .cast("long"))
    val offs = bucketed.groupBy($"bkt").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum($"c").over(Window.orderBy($"bkt")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"bkt", $"off")
    val atRank = bucketed.join(broadcast(offs), "bkt")
      .withColumn("r",
        row_number().over(Window.partitionBy($"bkt").orderBy($"cents"))
          .cast("long") + $"off")
      .filter($"r".isin(wanted: _*))
      .select($"r", $"cents").as[(Long, Long)].collect().toMap
    val lo = atRank(k + 1)
    val hi = atRank(n - k)
    vals.select(greatest(least($"cents", lit(hi)), lit(lo)).as("w"),
        $"cents")
      .agg(count(lit(1)).as("n_orders"), sum($"w").as("sw"),
        sum($"cents").as("sc"))
      .select($"n_orders", lit(k).as("n_clamped_each"),
        (lit(lo).cast("double") / 100.0).as("lo_cut"),
        (lit(hi).cast("double") / 100.0).as("hi_cut"),
        (floor($"sw".cast("double") / $"n_orders" + 0.5) / 100.0)
          .as("winsorized_mean"),
        (floor($"sc".cast("double") / $"n_orders" + 0.5) / 100.0)
          .as("raw_mean"))
  }

  /** H28 — Neyman-allocation stratified sample plan: given a total
    * sample budget, allocate per-source counts ∝ N_h·σ_h (stratum
    * size × stratum std of document length) — the minimum-variance
    * allocation for estimating corpus-level means, and the
    * principled answer to "how many docs do I audit from each
    * source?". σ from exact integer moments (Σlen, Σlen² as Longs);
    * the allocation row set is sources-bounded. Allocations are
    * floored; the remainder goes to the largest N_h·σ_h strata by
    * rank (largest-remainder rounding, deterministic tie-break on
    * source name). When EVERY stratum has zero variance (Σ N_h·σ_h =
    * 0, e.g. one doc per source), Neyman is undefined — fall back to
    * size-proportional allocation rather than emitting NaN.
    */
  def neymanAllocation(spark: SparkSession, dir: String,
                       budget: Long = 1000L): DataFrame = {
    import spark.implicits._
    val m = Tables.load(spark, dir, "documents")
      .select($"source", length($"text").cast("long").as("len"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("sl"),
        sum($"len".cast("decimal(38,0)") * $"len").as("sl2"))
      .withColumn("varl",
        ($"sl2".cast("double") - $"sl".cast("double") * $"sl" / $"n_docs")
          / $"n_docs")
      .withColumn("w", $"n_docs" * sqrt(greatest($"varl", lit(0.0))))
    // degenerate corpus: every stratum has zero length-variance (e.g.
    // one doc per source) → tw = 0 would make exact_alloc NaN; fall
    // back to size-proportional allocation, mirrored in the oracle
    val tot = m.agg(sum($"w").as("tw"),
      sum($"n_docs").cast("double").as("tn"))
    val planned = m.crossJoin(broadcast(tot))
      .withColumn("exact_alloc",
        when($"tw" > 0.0, lit(budget.toDouble) * $"w" / $"tw")
          .otherwise(lit(budget.toDouble) *
            $"n_docs".cast("double") / $"tn"))
      .withColumn("alloc_floor", floor($"exact_alloc").cast("long"))
      .withColumn("frac", $"exact_alloc" - $"alloc_floor")
    val short = planned.agg((lit(budget) - sum($"alloc_floor"))
      .as("rem"))
    planned.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(
        Window.orderBy($"frac".desc, $"source")).cast("long"))
      .select($"source", $"n_docs",
        (floor(sqrt(greatest($"varl", lit(0.0))) * 10000.0 + 0.5)
          / 10000.0).as("std_len"),
        (floor($"exact_alloc" * 10000.0 + 0.5) / 10000.0)
          .as("exact_alloc"),
        ($"alloc_floor" + when($"rk" <= $"rem", 1L).otherwise(0L))
          .as("alloc"))
      .orderBy($"source")
  }

  /** B83 — one-way ANOVA F-test across event types on value: does ANY
    * type differ in mean (the k-group gate you run BEFORE B55's
    * pairwise Welch t — one test, no multiple-comparison inflation).
    * Per-group moments (n, Σc, Σc²) from ONE partial-aggregable pass
    * over integer cents (Σc² in DECIMAL(38,0) — the Long sum wraps at
    * scale); the groups-sized moment frame folds in SORTED group
    * order ON BOTH SIDES — the oracle replays the identical fold via
    * an ordered list_reduce, because a plain SQL float SUM accumulates
    * in engine-specific order and a 1-ulp difference can cross the 4dp
    * floor (this was round 10's one driver-gate failure). F/η² derive
    * from exact integers with formula text shared with the oracle.
    * Zero-variance corpora (SSW = 0) and k < 2 get defined null
    * statistics.
    */
  def anova(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = Tables.load(spark, dir, "events")
      .select($"event_type",
        floor($"value" * 100.0 + 0.5).cast("long").as("c"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"c").as("s"),
        // cast ONE operand to decimal BEFORE multiplying: a Long*Long
        // per-row product silently wraps past ~3e9 cents; the oracle
        // multiplies in HUGEINT, so the product must be exact here too
        sum($"c".cast("decimal(38,0)") * $"c").as("q"))
    val f = g
      .agg(sort_array(collect_list(struct($"event_type", $"n", $"s", $"q")))
        .as("gs"))
      .select(
        size($"gs").cast("long").as("k"),
        aggregate($"gs", lit(0L), (a, x) => a + x.getField("n")).as("nn"),
        aggregate($"gs", lit(0L), (a, x) => a + x.getField("s")).as("ss"),
        aggregate($"gs", lit(0.0),
          (a, x) => a + x.getField("q").cast("double")).as("qq"),
        aggregate($"gs", lit(0.0), (a, x) =>
          a + x.getField("s").cast("double") * x.getField("s")
            / x.getField("n")).as("aa"))
      .select($"k", $"nn",
        ($"aa" - $"ss".cast("double") * $"ss" / $"nn").as("ssb"),
        ($"qq" - $"aa").as("ssw"))
    f.select($"k", $"nn",
      when($"nn" > 0, floor($"ssb" * 10000.0 + 0.5) / 10000.0).as("ssb"),
      when($"nn" > 0, floor($"ssw" * 10000.0 + 0.5) / 10000.0).as("ssw"),
      when($"k" > 1 && $"nn" > $"k" && $"ssw" > 0.0,
        floor(($"ssb" / ($"k" - 1)) / ($"ssw" / ($"nn" - $"k"))
          * 10000.0 + 0.5) / 10000.0).as("f_stat"),
      when($"ssb" + $"ssw" > 0.0,
        floor($"ssb" / ($"ssb" + $"ssw") * 10000.0 + 0.5) / 10000.0)
        .as("eta_sq"))
  }

  /** B84 — lagged cross-correlation (CCF) between the daily revenue
    * and daily order-count series at lags −7..+7: the lead/lag
    * discovery tool ("does volume today predict revenue in three
    * days?") behind every demand-forecast feature audit. The corpus
    * collapses to the calendar-bounded daily frame FIRST; the lag
    * pairing is a 15×days equi-join on a shifted date key (never a
    * data-sized shuffle). Per-lag moments are exact (Long/DECIMAL)
    * sums; Pearson r derives with one double division chain shared
    * verbatim with the oracle. Degenerate lags (n < 2 or zero
    * variance) emit defined null r.
    */
  def revenueCcf(spark: SparkSession, dir: String,
                 maxLag: Int = 7): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(floorDivCents("sum(cents)").as("rev"),
        count(lit(1)).as("cnt"))
      .localCheckpoint()
    // decimal-cast BEFORE the multiply — a Long*Long per-row product
    // wraps once daily revenue passes ~3e9; the oracle is HUGEINT
    def dsum(a: Column, b: Column): Column =
      sum(a.cast("decimal(38,0)") * b)
    val a = daily.select($"day", $"rev",
      explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
      .withColumn("bday", date_add($"day", $"lag"))
    // the count side is the calendar-bounded daily frame — broadcast
    // it so the lag pairing never shuffles, at any corpus size
    val b = broadcast(daily.select($"day".as("bday"), $"cnt"))
    val m = a.join(b, "bday")
      .groupBy($"lag".cast("long").as("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum($"rev").as("sx"), sum($"cnt").as("sy"),
        dsum($"rev", $"cnt").as("sxy"),
        dsum($"rev", $"rev").as("sxx"),
        dsum($"cnt", $"cnt").as("syy"))
    val num = $"n_pairs".cast("double") * $"sxy".cast("double") -
      $"sx".cast("double") * $"sy".cast("double")
    val vx = $"n_pairs".cast("double") * $"sxx".cast("double") -
      $"sx".cast("double") * $"sx".cast("double")
    val vy = $"n_pairs".cast("double") * $"syy".cast("double") -
      $"sy".cast("double") * $"sy".cast("double")
    m.select($"lag", $"n_pairs",
        when($"n_pairs" > 1 && vx > 0.0 && vy > 0.0,
          floor(num / sqrt(vx * vy) * 1000000.0 + 0.5) / 1000000.0)
          .as("r"))
      .orderBy($"lag")
  }

  /** E46 — Simpson diversity of the token distribution per source:
    * D = 1 − Σnᵢ(nᵢ−1)/(N(N−1)) — the probability two random tokens
    * differ, i.e. the concentration complement of E45's heavy-hitter
    * list (a boilerplate-stuffed source scores LOW here long before
    * its Zipf slope moves). Exact integers end-to-end: per-(source,
    * token) counts in one pass, Σnᵢ(nᵢ−1) in DECIMAL(38,0) vs the
    * oracle's HUGEINT; inverse Simpson (effective vocabulary size)
    * rides along. Sources-bounded output; single-token sources get
    * defined nulls.
    */
  def simpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cnt = Tables.load(spark, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"source", $"token")
      .agg(count(lit(1)).as("n"))
    cnt.groupBy($"source")
      .agg(sum($"n").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum($"n".cast("decimal(38,0)") * ($"n" - 1)).as("pairs"))
      .select($"source", $"n_tokens", $"vocab",
        when($"n_tokens" > 1,
          floor((lit(1.0) - $"pairs".cast("double") /
            ($"n_tokens".cast("double") * ($"n_tokens" - 1)))
            * 1000000.0 + 0.5) / 1000000.0).as("simpson"),
        when($"pairs" > 0,
          floor($"n_tokens".cast("double") * ($"n_tokens" - 1) /
            $"pairs".cast("double") * 10000.0 + 0.5) / 10000.0)
          .as("inv_simpson"))
      .orderBy($"source")
  }

  /** B85 — per-event-type reach with a Wilson 95% CI: of all users,
    * what fraction performed each action, with the interval that stays
    * honest at small n (the normal approximation's ±z√(p(1−p)/n) goes
    * negative and overshoots 1 exactly where product decisions happen
    * — small segments). Inputs are exact integer counts (distinct
    * users per type / overall) from corpus-linear partial-agg
    * distincts; the Wilson formula is one shared double chain, 6dp.
    * z = 1.96 (95%).
    */
  def wilsonReach(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val byType = ev.select($"event_type", $"user_id").distinct()
      .groupBy($"event_type").agg(count(lit(1)).as("x"))
    val tot = ev.agg(countDistinct($"user_id").as("n"))
    val z = lit(1.96)
    val z2 = lit(3.8416) // z² as a LITERAL shared with the oracle —
    // 1.96*1.96 rounds differently from the parsed decimal 3.8416
    val p = $"x".cast("double") / $"n"
    val den = lit(1.0) + z2 / $"n"
    val ctr = p + z2 / (lit(2.0) * $"n")
    val rad = z * sqrt(p * (lit(1.0) - p) / $"n" +
      z2 / (lit(4.0) * $"n" * $"n"))
    def r6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0
    byType.crossJoin(broadcast(tot))
      .select($"event_type", $"x", $"n",
        r6(p).as("p"),
        r6((ctr - rad) / den).as("wilson_lo"),
        r6((ctr + rad) / den).as("wilson_hi"))
      .orderBy($"event_type")
  }

  /** B86 — EWMA control chart on daily revenue (λ=0.2, L=3): the
    * small-shift monitor completing the drift triptych — B73's CUSUM
    * reacts to a single level break, G24's Page–Hinkley is the
    * streaming alarm, EWMA localizes sustained small shifts day by
    * day. The corpus collapses to the calendar-bounded daily frame;
    * the smoothing is a sorted in-plan fold (B77 discipline) so state
    * is O(1) and the oracle can replay it as a recursive CTE
    * bit-for-bit; μ/σ of the daily series from exact integer moments.
    * Control width uses the exact-variance form
    * σ·√(λ/(2−λ)·(1−(1−λ)^{2t})). Emits per-day ewma, limits, and
    * breach flags.
    */
  def ewmaChart(spark: SparkSession, dir: String,
                lambda: Double = 0.2, l: Double = 3.0): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(floorDivCents("sum(cents)").as("y"))
    val folded = daily
      .agg(count(lit(1)).as("nd"), sum($"y").as("sy"),
        sum($"y".cast("decimal(38,0)") * $"y").as("syy"),
        sort_array(collect_list(struct($"day", $"y"))).as("s"))
      .select($"nd", $"sy", $"syy",
        transform($"s", x => x.getField("day")).as("days"),
        transform($"s", x => x.getField("y").cast("double")).as("ys"))
      .filter($"nd" > 0)
    val lam = lit(lambda)
    val ew = folded.select($"nd", $"days", $"ys",
      ($"sy".cast("double") / $"nd").as("mu"),
      sqrt(greatest(($"syy".cast("double") -
        $"sy".cast("double") * $"sy" / $"nd") / $"nd", lit(0.0)))
        .as("sigma"),
      // left fold carrying the running ewma; emit every step
      aggregate($"ys",
        struct(lit(0.0).as("e"), array().cast("array<double>").as("out")),
        (st, y) => {
          val e0 = when(size(st.getField("out")) === 0, y)
            .otherwise(lam * y + (lit(1.0) - lam) * st.getField("e"))
          struct(e0.as("e"),
            concat(st.getField("out"), array(e0)).as("out"))
        }, st => st.getField("out")).as("es"))
    ew.select(posexplode(arrays_zip($"days", $"es")).as(Seq("i", "z")),
        $"mu", $"sigma")
      .select(($"i" + 1).cast("long").as("t"),
        $"z.days".as("day"), $"z.es".as("ewma_raw"), $"mu", $"sigma")
      .withColumn("width",
        lit(l) * $"sigma" * sqrt(lit(lambda / (2.0 - lambda)) *
          (lit(1.0) - pow(lit(1.0 - lambda), $"t" * 2))))
      .select($"t", $"day",
        (floor($"ewma_raw" * 10000.0 + 0.5) / 10000.0).as("ewma"),
        (floor(($"mu" - $"width") * 10000.0 + 0.5) / 10000.0).as("lcl"),
        (floor(($"mu" + $"width") * 10000.0 + 0.5) / 10000.0).as("ucl"),
        ($"ewma_raw" > $"mu" + $"width" ||
          $"ewma_raw" < $"mu" - $"width").as("breach"))
      .orderBy($"t")
  }

  /** B87 — Spearman rank correlation between daily revenue and daily
    * order count: the monotone-association check behind "do busier
    * days actually bill more?" that Pearson gets wrong under heavy
    * tails (one whale day dominates the covariance; ranks don't
    * care). Average ranks carry ties exactly: 2·avgrank = 2·minrank +
    * (t−1) is an INTEGER, so every correlation moment is an exact
    * integer sum (DECIMAL(38,0) products ≙ HUGEINT) and ρ derives
    * from one shared double chain — the scale factor 2 cancels.
    *
    * Scale shape: the corpus collapses to the calendar-bounded daily
    * frame in ONE partial-agg pass; ranks/moments run on that frame
    * (windows over days, never data). Zero rank variance (all-tied
    * days) → defined null ρ.
    */
  def dailySpearman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val daily = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(floorDivCents("sum(cents)").as("rev"),
        count(lit(1)).as("cnt"))
    // 2×average-rank (integer): 2·rank + ties − 1, per variable
    val ranked = daily
      .withColumn("x", lit(2) * rank().over(W.orderBy($"rev"))
        + count(lit(1)).over(W.partitionBy($"rev")) - 1)
      .withColumn("y", lit(2) * rank().over(W.orderBy($"cnt"))
        + count(lit(1)).over(W.partitionBy($"cnt")) - 1)
    val m = ranked.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x".cast("decimal(38,0)") * $"y").as("sxy"),
      sum($"x".cast("decimal(38,0)") * $"x").as("sxx"),
      sum($"y".cast("decimal(38,0)") * $"y").as("syy"))
    val covn = $"n" * $"sxy" - $"sx".cast("decimal(38,0)") * $"sy"
    val vx = $"n" * $"sxx" - $"sx".cast("decimal(38,0)") * $"sx"
    val vy = $"n" * $"syy" - $"sy".cast("decimal(38,0)") * $"sy"
    m.select($"n".as("n_days"),
      when(vx > 0 && vy > 0,
        floor(covn.cast("double") /
          (sqrt(vx.cast("double")) * sqrt(vy.cast("double")))
          * 1000000.0 + 0.5) / 1000000.0).as("spearman_rho"))
      .filter($"n_days" > 0)
  }

  /** B88 — Theil T inequality index over per-user event value totals:
    * the decomposable complement of B51's Gini (Theil splits into
    * between-group + within-group terms, so a mixture owner can
    * attribute concentration to sources; Gini can't). T = (1/T_tot)·
    * Σ t·ln t + ln(n/T_tot) from ONE user-keyed partial agg; the
    * corpus-sized Σ t·ln t floors per-user contributions to integer
    * 1e-3 units summed exactly (DECIMAL(38,0) ≙ HUGEINT — the E47
    * discipline: order-exact AND map-side combinable, where a float
    * sum would drift by partition order). Zero-total corpora get
    * defined nulls.
    */
  def userValueTheil(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.load(spark, dir, "events")
      .select($"user_id",
        floor($"value" * 100.0 + 0.5).cast("long").as("c"))
      .groupBy($"user_id").agg(sum($"c").as("t"))
      .filter($"t" > 0)
    per.agg(count(lit(1)).as("n_users"), sum($"t").as("total_cents"),
        sum(floor($"t".cast("double") * log($"t".cast("double"))
          * 1000.0 + 0.5).cast("long").cast("decimal(38,0)"))
          .as("stlnu"))
      .select($"n_users", $"total_cents",
        when($"n_users" > 0 && $"total_cents" > 0,
          floor(($"stlnu".cast("double") / 1000.0 / $"total_cents"
            + log($"n_users".cast("double")
              / $"total_cents")) * 1000000.0 + 0.5) / 1000000.0)
          .as("theil_t"))
      .filter($"n_users" > 0)
  }

  /** B89 — Hill tail-index estimate of the order-value distribution:
    * α̂ = k / Σᵢ ln(xᵢ/t) over the k largest values with t the
    * (k+1)-th largest — THE standard "how heavy is this tail?"
    * number (α ≤ 2 ⇒ infinite variance: means/CIs over such a column
    * are fiction, which changes how every revenue aggregate upstream
    * should be read; B82's winsorized mean is the remedy this number
    * justifies). ln values floor to integer 1e-9 units so the k-sum
    * is exact (partition-order independent); the top-(k+1) multiset
    * comes from a TakeOrdered (per-partition heaps — no global sort)
    * and both engines select the identical value multiset. All-tied
    * tails (S = 0) get a defined null.
    */
  def hillTailIndex(spark: SparkSession, dir: String,
                    k: Int = 200): DataFrame = {
    import spark.implicits._
    val top = Tables.load(spark, dir, "orders")
      .select(floor($"o_totalprice" * 100.0 + 0.5).cast("long")
        .as("c"))
      .filter($"c" > 0)
      .orderBy($"c".desc)
      .limit(k + 1)
      .select($"c",
        floor(log($"c".cast("double")) * 1000000000.0 + 0.5)
          .cast("long").as("lnu"))
    top.agg(count(lit(1)).as("n"), min($"c").as("t_cents"),
        min($"lnu").as("lnt"), sum($"lnu").as("slnu"))
      .select(($"n" - 1).as("k_used"), $"t_cents",
        when($"n" > 1 && $"slnu" - $"n" * $"lnt" > 0,
          floor(($"n" - 1).cast("double") /
            (($"slnu" - $"n" * $"lnt").cast("double") / 1000000000.0)
            * 1000000.0 + 0.5) / 1000000.0).as("hill_alpha"))
      .filter($"k_used" >= 0)
  }

  /** B90 — Mann–Kendall trend test on daily revenue: the
    * NONPARAMETRIC "is there a monotone trend?" gate (B79's OLS slope
    * assumes linearity and is whale-day-sensitive; MK counts
    * concordant pairs, so one outlier day moves S by at most n−1).
    * S = Σ_{i<j} sign(x_j − x_i) is an exact INTEGER; Var(S) carries
    * the standard tie correction [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 in
    * exact DECIMAL(38,0) (≙ HUGEINT — the products wrap a Long once
    * n passes ~10⁶ days… insurance, not expectation); the
    * continuity-corrected Z is one shared double chain.
    *
    * Scale shape: the corpus collapses to the calendar-bounded daily
    * frame FIRST; the pair set is days²-bounded (theil_sen stance),
    * never the corpus. n < 2 or zero variance → defined nulls.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
      .groupBy($"o_orderdate")
      .agg(floorDivCents("sum(cents)").as("x"))
      .localCheckpoint()
    val a = daily.select($"o_orderdate".as("da"), $"x".as("xa"))
    val b = daily.select($"o_orderdate".as("db"), $"x".as("xb"))
    val s = a.join(b, $"da" < $"db")
      .agg(coalesce(sum(signum(($"xb" - $"xa").cast("double"))
        .cast("long")), lit(0L)).as("s_stat"))
    val nf = daily.agg(count(lit(1)).as("n"))
    val ties = daily.groupBy($"x").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum($"t".cast("decimal(38,0)") * ($"t" - 1) *
        (lit(2L) * $"t" + 5)), lit(0L).cast("decimal(38,0)"))
        .as("tsum"))
    val varNum = $"n".cast("decimal(38,0)") * ($"n" - 1) *
      (lit(2L) * $"n" + 5) - $"tsum"
    s.crossJoin(broadcast(nf)).crossJoin(broadcast(ties))
      .select($"n".as("n_days"), $"s_stat",
        when(varNum > 0,
          floor(varNum.cast("double") / 18.0 * 10000.0 + 0.5)
            / 10000.0).as("var_s"),
        when(varNum > 0,
          when($"s_stat" > 0,
            floor(($"s_stat" - 1).cast("double") /
              sqrt(varNum.cast("double") / 18.0) * 1000000.0 + 0.5)
              / 1000000.0)
            .when($"s_stat" < 0,
              floor(($"s_stat" + 1).cast("double") /
                sqrt(varNum.cast("double") / 18.0) * 1000000.0 + 0.5)
                / 1000000.0)
            .otherwise(0.0)).as("z"))
      .withColumn("trend",
        when($"z".isNotNull, abs($"z") > 1.96))
      .filter($"n_days" > 0)
  }

  /** B91 — Wald–Wolfowitz runs test on daily revenue about its
    * median: the randomness gate ("do high and low days cluster?")
    * that neither the trend tests (B79/B90 — monotone drift) nor the
    * drift monitors (B73/B86 — level shifts) ask; too FEW runs means
    * regimes, too MANY means oscillation (e.g. a batching artifact in
    * the feed). The median is the exact interpolated percentile of
    * the daily frame; days equal to it drop (standard treatment);
    * a/b/R are exact integers from one pass over the calendar-bounded
    * frame (the run count is a lag window over days, never data) and
    * μ/σ²/Z derive in one shared double chain (2ab products in
    * DECIMAL ≙ HUGEINT). Degenerate corpora (a = 0 ∨ b = 0 ∨ n < 2)
    * get defined nulls.
    */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val daily = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
      .groupBy($"o_orderdate")
      .agg(floorDivCents("sum(cents)").as("x"))
    val med = daily.agg(expr("percentile(x, 0.5)").as("med"))
    val marked = daily.crossJoin(broadcast(med))
      .filter($"x" =!= $"med")
      .withColumn("above", ($"x" > $"med").cast("long"))
    val w = W.orderBy($"o_orderdate")
    val runs = marked
      .withColumn("brk",
        when(lag($"above", 1).over(w).isNull ||
          lag($"above", 1).over(w) =!= $"above", 1L).otherwise(0L))
      .agg(coalesce(sum($"brk"), lit(0L)).as("n_runs"),
        coalesce(sum($"above"), lit(0L)).as("a"),
        coalesce(sum(lit(1L) - $"above"), lit(0L)).as("b"))
    val ab2 = $"a".cast("decimal(38,0)") * $"b" * 2
    val nn = $"a" + $"b"
    runs
      .select($"n_runs", $"a".as("n_above"), $"b".as("n_below"),
        when($"a" > 0 && $"b" > 0,
          floor((lit(1.0) + ab2.cast("double") / nn) * 10000.0 + 0.5)
            / 10000.0).as("mu_runs"),
        when($"a" > 0 && $"b" > 0 && nn > 1 &&
          ab2 * (ab2 - nn) > 0,
          floor(($"n_runs" - (lit(1.0) + ab2.cast("double") / nn)) /
            sqrt((ab2 * (ab2 - nn)).cast("double") /
              (nn.cast("double") * nn * (nn - 1)))
            * 1000000.0 + 0.5) / 1000000.0).as("z"))
      .filter($"n_runs" > 0 || $"n_above" > 0 || $"n_below" > 0)
  }

  /** B92 — Kruskal–Wallis H test across event types on `value`: the
    * k-group NONPARAMETRIC gate next to B83's ANOVA (F assumes
    * normal-ish residuals; H ranks the pooled values, so one whale
    * event moves each rank sum by at most N). Ranks come from the
    * DISTINCT-CENTS frame, not the corpus (the G30 bounded-domain
    * stance): the corpus collapses once to (cents, type) counts, a
    * cumulative window over the domain-bounded distinct-value frame
    * yields each value's 2×average-rank as an exact INTEGER
    * (2·cum + t + 1), and per-group rank sums are exact
    * DECIMAL(38,0) products. H and its tie-corrected form divide in
    * one shared double chain; the cross-group Σ R²/n fold is
    * type-ordered on BOTH engines (the B83 list_reduce discipline).
    * All-tied corpora (tie correction 0) → defined null h_adj.
    */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val v = Tables.load(spark, dir, "events")
      .select($"event_type",
        floor($"value" * 100.0 + 0.5).cast("long").as("c"))
    val byCT = v.groupBy($"c", $"event_type")
      .agg(count(lit(1)).as("ng"))
    val byC = byCT.groupBy($"c").agg(sum($"ng").as("t"))
    val before = W.orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byC
      .withColumn("cum", coalesce(sum($"t").over(before), lit(0L)))
      .select($"c", (lit(2L) * $"cum" + $"t" + 1).as("r2"))
    val g = byCT.join(ranked, "c")
      .groupBy($"event_type")
      .agg(sum($"ng").as("n"),
        sum($"ng".cast("decimal(38,0)") * $"r2").as("s2"))
    val ties = byC
      .agg(coalesce(sum($"t".cast("decimal(38,0)") * $"t" * $"t"
        - $"t"), lit(java.math.BigDecimal.ZERO)).as("tsum"))
    val f = g
      .agg(sort_array(collect_list(struct($"event_type", $"n", $"s2")))
        .as("gs"))
      .select(size($"gs").cast("long").as("k"),
        aggregate($"gs", lit(0L), (a, x) => a + x.getField("n"))
          .as("nn"),
        // Σ_g R_g²/n_g with R_g = s2_g/2 — double fold in pinned
        // type order, shared verbatim with the oracle's list_reduce
        aggregate($"gs", lit(0.0), (a, x) =>
          a + x.getField("s2").cast("double") * x.getField("s2")
            / x.getField("n") / 4.0).as("rr"))
      .crossJoin(broadcast(ties))
    val h = lit(12.0) / ($"nn".cast("double") * ($"nn" + 1)) * $"rr" -
      lit(3.0) * ($"nn" + 1)
    val corr = lit(1.0) - $"tsum".cast("double") /
      ($"nn".cast("decimal(38,0)") * $"nn" * $"nn" - $"nn")
        .cast("double")
    f.select($"k", $"nn", ($"k" - 1).as("df"),
        when($"nn" > 1, floor(h * 10000.0 + 0.5) / 10000.0)
          .as("h_stat"),
        when($"nn" > 1 && corr > 0.0,
          floor(h / corr * 10000.0 + 0.5) / 10000.0).as("h_adj"))
      .filter($"nn" > 0)
  }

  /** B93 — Jarque–Bera normality test on order totals: skewness,
    * excess kurtosis, and JB = n/6·(S² + K²/4) — the moment-based
    * "can I even use a z-interval on this column?" gate that reads
    * B89's tail verdict from the other side. Values quantize to
    * nearest-DOLLAR Longs so the raw power sums Σx..Σx⁴ stay exact
    * DECIMAL(38,0) (≙ HUGEINT) even at ~10¹² rows (cents⁴ would
    * overflow 38 digits at that scale — the quantization unit is
    * chosen FOR the fourth moment); every central moment then
    * derives from the five exact integers in one double chain shared
    * verbatim with the oracle. Zero-variance corpora → defined
    * nulls.
    */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = Tables.load(spark, dir, "orders")
      .select(floor($"o_totalprice" + 0.5).cast("long").as("x"))
    val m = x.agg(count(lit(1)).as("n"), sum($"x").as("s1"),
      sum($"x".cast("decimal(38,0)") * $"x").as("s2"),
      sum($"x".cast("decimal(38,0)") * $"x" * $"x").as("s3"),
      sum($"x".cast("decimal(38,0)") * $"x" * $"x" * $"x").as("s4"))
    val n = $"n".cast("double")
    val mu = $"s1".cast("double") / n
    val m2 = $"s2".cast("double") / n - mu * mu
    val m3 = $"s3".cast("double") / n - lit(3.0) * mu *
      ($"s2".cast("double") / n) + lit(2.0) * mu * mu * mu
    val m4 = $"s4".cast("double") / n - lit(4.0) * mu *
      ($"s3".cast("double") / n) + lit(6.0) * mu * mu *
      ($"s2".cast("double") / n) - lit(3.0) * mu * mu * mu * mu
    val skew = m3 / (m2 * sqrt(m2))
    val exk = m4 / (m2 * m2) - 3.0
    val jb = n / 6.0 * (skew * skew + exk * exk / 4.0)
    m.select($"n".as("n_orders"),
        when($"n" > 0 && m2 > 0.0,
          floor(skew * 1000000.0 + 0.5) / 1000000.0).as("skewness"),
        when($"n" > 0 && m2 > 0.0,
          floor(exk * 1000000.0 + 0.5) / 1000000.0).as("ex_kurtosis"),
        when($"n" > 0 && m2 > 0.0,
          floor(jb * 10000.0 + 0.5) / 10000.0).as("jb_stat"),
        when($"n" > 0 && m2 > 0.0, jb > 5.991).as("reject_normal"))
      .filter($"n_orders" > 0)
  }

  /** B94 — Kendall τ-b between daily revenue and daily order count:
    * the PAIR-counting monotone-association check next to B87's
    * Spearman (τ's pair counts have a direct probabilistic reading —
    * P(concordant) − P(discordant) — and its tie treatment is
    * exact-by-construction rather than via average ranks). Concordant
    * / discordant / per-variable tie counts are exact INTEGERS off
    * the days²-bounded pair frame (the theil_sen/mann_kendall
    * stance: the corpus collapses to the calendar-bounded daily
    * frame FIRST, and the pair join never touches data rows); τ-b
    * divides in one shared double chain. All-tied variables (a zero
    * denominator factor) → defined null.
    */
  def dailyKendall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
      .groupBy($"o_orderdate")
      .agg(floorDivCents("sum(cents)").as("x"),
        count(lit(1)).as("y"))
      .localCheckpoint()
    val a = daily.select($"o_orderdate".as("da"), $"x".as("xa"),
      $"y".as("ya"))
    val b = daily.select($"o_orderdate".as("db"), $"x".as("xb"),
      $"y".as("yb"))
    val pairs = a.join(b, $"da" < $"db")
    val m = pairs.agg(count(lit(1)).as("n0"),
      coalesce(sum(when(signum($"xb" - $"xa") * signum($"yb" - $"ya")
        > 0, 1L).otherwise(0L)), lit(0L)).as("conc"),
      coalesce(sum(when(signum($"xb" - $"xa") * signum($"yb" - $"ya")
        < 0, 1L).otherwise(0L)), lit(0L)).as("disc"),
      coalesce(sum(when($"xa" === $"xb", 1L).otherwise(0L)), lit(0L))
        .as("tx"),
      coalesce(sum(when($"ya" === $"yb", 1L).otherwise(0L)), lit(0L))
        .as("ty"))
    val den = ($"n0" - $"tx").cast("decimal(38,0)") * ($"n0" - $"ty")
    m.crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select($"n_days", $"n0".as("n_pairs"), $"conc".as("concordant"),
        $"disc".as("discordant"),
        when(den > 0,
          floor(($"conc" - $"disc").cast("double") /
            sqrt(den.cast("double")) * 1000000.0 + 0.5) / 1000000.0)
          .as("tau_b"))
      .filter($"n_days" > 0)
  }

  /** B95 — Durbin–Watson statistic on the residuals of the daily
    * revenue OLS trend: DW = Σ(eᵢ−eᵢ₋₁)²/Σeᵢ² — the serial-
    * correlation gate that says whether B79-style OLS standard
    * errors can be believed at all (positively autocorrelated
    * residuals make every trend look more significant than it is;
    * B71's ACF reads the raw series, DW reads what the FIT left
    * behind). Slope/intercept derive from exact integer moments
    * (the segment_trend chain); each residual quantizes to integer
    * 1e-6 units so BOTH sums are exact DECIMAL(38,0) over the
    * calendar-bounded daily frame — the successive difference is a
    * lag window over days, never data. Zero-residual fits (perfect
    * line) → defined null DW.
    */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val orders = Tables.load(spark, dir, "orders")
      .withColumn("cents",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long"))
    val minDay = orders.agg(min(to_date($"o_orderdate")).as("d0"))
    val daily = orders
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(floorDivCents("sum(cents)").as("y"))
      .crossJoin(broadcast(minDay))
      .select($"day", datediff($"day", $"d0").cast("long").as("x"),
        $"y")
      .localCheckpoint()
    val mo = daily.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x".cast("decimal(38,0)") * $"y").as("sxy"),
      sum($"x".cast("decimal(38,0)") * $"x").as("sxx"))
    val den = $"n" * $"sxx" - $"sx".cast("decimal(38,0)") * $"sx"
    // intercept from the same moments AFTER b: a = (Σy − b·Σx)/n
    val fit = mo.select($"n",
      when(den > 0, ($"n" * $"sxy" -
        $"sx".cast("decimal(38,0)") * $"sy").cast("double") /
        den.cast("double")).otherwise(lit(0.0)).as("b"),
      $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"))
      .select($"n", $"b",
        when($"n" > 0, ($"syd" - $"b" * $"sxd") / $"n")
          .otherwise(lit(0.0)).as("a"))
    val resid = daily.crossJoin(broadcast(fit))
      .select($"day",
        floor(($"y".cast("double") - $"a" - $"b" * $"x")
          * 1000000.0 + 0.5).cast("long").as("u"))
    val w = W.orderBy($"day")
    val sums = resid
      .withColumn("du", $"u" - lag($"u", 1).over(w))
      .agg(count(lit(1)).as("n_days"),
        coalesce(sum($"u".cast("decimal(38,0)") * $"u"),
          lit(java.math.BigDecimal.ZERO)).as("see"),
        coalesce(sum($"du".cast("decimal(38,0)") * $"du"),
          lit(java.math.BigDecimal.ZERO)).as("sdd"))
    sums.select($"n_days",
        when($"n_days" > 1 && $"see" > 0,
          floor($"sdd".cast("double") / $"see".cast("double")
            * 1000000.0 + 0.5) / 1000000.0).as("dw"),
        when($"n_days" > 1 && $"see" > 0,
          floor((lit(1.0) - $"sdd".cast("double") /
            $"see".cast("double") / 2.0) * 1000000.0 + 0.5)
            / 1000000.0).as("rho_hat"))
      .filter($"n_days" > 0)
  }

  /** B96 — Brown–Forsythe variance-homogeneity test across event
    * types: one-way ANOVA on |2·value − 2·median_g| — the
    * heteroscedasticity GATE a B83/B55 reading should clear first
    * (unequal spreads inflate F; the median-centered variant is the
    * robust form of Levene's test). The 2× trick keeps everything
    * integer: percentile(·, 0.5) of Longs is either a Long or a
    * half-integer, so 2·median is exact and the absolute deviations
    * are exact Longs in one scan-side projection; the F statistic
    * reuses the B83 chain on exact DECIMAL(38,0) moment sums with
    * the type-ordered fold. Scale shape: one grouped exact-percentile
    * pass (types-sized, broadcast back) + one grouped moment pass.
    * Zero within-group deviation → defined null F.
    */
  def brownForsythe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
      .select($"event_type",
        floor($"value" * 100.0 + 0.5).cast("long").as("c"))
    val med = ev.groupBy($"event_type")
      .agg(floor(expr("percentile(c, 0.5)") * 2.0 + 0.5).cast("long")
        .as("m2"))
    val g = ev.join(broadcast(med), "event_type")
      .select($"event_type", abs(lit(2L) * $"c" - $"m2").as("z"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"z").as("s"),
        sum($"z".cast("decimal(38,0)") * $"z").as("q"))
    val f = g
      .agg(sort_array(collect_list(struct($"event_type", $"n", $"s", $"q")))
        .as("gs"))
      .select(size($"gs").cast("long").as("k"),
        aggregate($"gs", lit(0L), (a, x) => a + x.getField("n")).as("nn"),
        aggregate($"gs", lit(0L), (a, x) => a + x.getField("s")).as("ss"),
        aggregate($"gs", lit(0.0),
          (a, x) => a + x.getField("q").cast("double")).as("qq"),
        aggregate($"gs", lit(0.0), (a, x) =>
          a + x.getField("s").cast("double") * x.getField("s")
            / x.getField("n")).as("aa"))
      .select($"k", $"nn",
        ($"aa" - $"ss".cast("double") * $"ss" / $"nn").as("ssb"),
        ($"qq" - $"aa").as("ssw"))
    f.select($"k", $"nn",
        when($"k" > 1 && $"nn" > $"k" && $"ssw" > 0.0,
          floor(($"ssb" / ($"k" - 1)) / ($"ssw" / ($"nn" - $"k"))
            * 10000.0 + 0.5) / 10000.0).as("f_stat"))
      .filter($"nn" > 0)
  }

  /** B97 — two-proportion z-test on user conversion between the two
    * deterministic user buckets (user_id mod 2 — the hash-split A/B
    * shape): does bucket A convert (≥1 purchase) at a different RATE
    * than bucket B? This is the single most common product-experiment
    * readout; B55/B75 compare continuous VALUES, this compares the
    * binomial proportions those tests can't touch. z = (p̂_a − p̂_b) /
    * √(p̂(1−p̂)(1/n_a + 1/n_b)) with the pooled p̂ — every input an
    * exact integer (user counts / converter counts from ONE per-user
    * partial agg), the z one shared double chain; Wilson-style
    * degenerate guards (empty bucket, pooled rate 0 or 1) → defined
    * nulls. pmod keeps the bucket assignment sign-stable on hostile
    * negative ids (Spark % and DuckDB % agree on negatives, but both
    * would split negatives into a THIRD bucket −1).
    */
  def abProportionTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.load(spark, dir, "events")
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .withColumn("grp", pmod($"user_id", lit(2L)) === 0L)
    val m = per.groupBy($"grp")
      .agg(count(lit(1)).as("n"), sum($"conv").as("x"))
      .agg(sum(when($"grp", $"n")).as("n_a"),
        sum(when($"grp", $"x")).as("x_a"),
        sum(when(!$"grp", $"n")).as("n_b"),
        sum(when(!$"grp", $"x")).as("x_b"))
      .na.fill(0L, Seq("n_a", "x_a", "n_b", "x_b"))
    val pa = $"x_a".cast("double") / $"n_a"
    val pb = $"x_b".cast("double") / $"n_b"
    val pp = ($"x_a" + $"x_b").cast("double") / ($"n_a" + $"n_b")
    val z = (pa - pb) /
      sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / $"n_a" + lit(1.0) / $"n_b"))
    m.select($"n_a", $"x_a",
        when($"n_a" > 0, floor(pa * 1000000.0 + 0.5) / 1000000.0)
          .as("p_a"),
        $"n_b", $"x_b",
        when($"n_b" > 0, floor(pb * 1000000.0 + 0.5) / 1000000.0)
          .as("p_b"),
        when($"n_a" > 0 && $"n_b" > 0 && pp > 0.0 && pp < 1.0,
          floor(z * 1000000.0 + 0.5) / 1000000.0).as("z"),
        when($"n_a" > 0 && $"n_b" > 0 && pp > 0.0 && pp < 1.0,
          abs(floor(z * 1000000.0 + 0.5) / 1000000.0) > 1.96)
          .as("significant"))
      .filter($"n_a" + $"n_b" > 0)
  }

  val oracles: Map[String, String] = Map(
    "events_ab_proportion" ->
      """WITH per AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      ::BIGINT AS conv,
        |    ((user_id % 2) + 2) % 2 = 0 AS grp
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT grp, count(*)::BIGINT AS n, sum(conv)::BIGINT AS x
        |  FROM per GROUP BY grp),
        |m AS (
        |  SELECT
        |    coalesce(sum(CASE WHEN grp THEN n END), 0)::BIGINT AS n_a,
        |    coalesce(sum(CASE WHEN grp THEN x END), 0)::BIGINT AS x_a,
        |    coalesce(sum(CASE WHEN NOT grp THEN n END), 0)::BIGINT
        |      AS n_b,
        |    coalesce(sum(CASE WHEN NOT grp THEN x END), 0)::BIGINT
        |      AS x_b
        |  FROM g),
        |d AS (
        |  SELECT n_a, x_a, n_b, x_b,
        |    x_a::DOUBLE / n_a AS pa, x_b::DOUBLE / n_b AS pb,
        |    (x_a + x_b)::DOUBLE / (n_a + n_b) AS pp
        |  FROM m)
        |SELECT n_a, x_a,
        |  CASE WHEN n_a > 0 THEN
        |    floor(pa * 1000000.0 + 0.5) / 1000000.0 END AS p_a,
        |  n_b, x_b,
        |  CASE WHEN n_b > 0 THEN
        |    floor(pb * 1000000.0 + 0.5) / 1000000.0 END AS p_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0.0 AND pp < 1.0 THEN
        |    floor((pa - pb) / sqrt(pp * (1.0 - pp)
        |      * (1.0 / n_a + 1.0 / n_b)) * 1000000.0 + 0.5)
        |      / 1000000.0 END AS z,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0.0 AND pp < 1.0 THEN
        |    abs(floor((pa - pb) / sqrt(pp * (1.0 - pp)
        |      * (1.0 / n_a + 1.0 / n_b)) * 1000000.0 + 0.5)
        |      / 1000000.0) > 1.96 END AS significant
        |FROM d WHERE n_a + n_b > 0""".stripMargin,
    "events_kruskal_wallis" ->
      """WITH v AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |ct AS (
        |  SELECT c, event_type, count(*)::BIGINT AS ng
        |  FROM v GROUP BY 1, 2),
        |cv AS (SELECT c, sum(ng)::BIGINT AS t FROM ct GROUP BY 1),
        |rk AS (
        |  SELECT c,
        |    2 * coalesce(sum(t) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + t + 1 AS r2
        |  FROM cv),
        |g AS (
        |  SELECT event_type, sum(ng)::BIGINT AS n,
        |    sum(ng::HUGEINT * r2) AS s2
        |  FROM ct JOIN rk USING (c) GROUP BY 1),
        |tie AS (
        |  SELECT coalesce(sum(t::HUGEINT * t * t - t), 0::HUGEINT)
        |    AS tsum
        |  FROM cv),
        |f AS (
        |  SELECT count(*)::BIGINT AS k,
        |    coalesce(sum(n), 0)::BIGINT AS nn,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      coalesce(list(s2::DOUBLE * s2 / n / 4.0
        |        ORDER BY event_type), [])),
        |      (a, x) -> a + x) AS rr
        |  FROM g),
        |h AS (
        |  SELECT k, nn,
        |    12.0 / (nn::DOUBLE * (nn + 1)) * rr - 3.0 * (nn + 1)
        |      AS h_raw,
        |    1.0 - tsum::DOUBLE /
        |      (nn::HUGEINT * nn * nn - nn)::DOUBLE AS corr
        |  FROM f, tie)
        |SELECT k, nn, k - 1 AS df,
        |  CASE WHEN nn > 1 THEN
        |    floor(h_raw * 10000.0 + 0.5) / 10000.0 END AS h_stat,
        |  CASE WHEN nn > 1 AND corr > 0.0 THEN
        |    floor(h_raw / corr * 10000.0 + 0.5) / 10000.0 END AS h_adj
        |FROM h WHERE nn > 0""".stripMargin,
    "orders_jarque_bera" ->
      """WITH x AS (
        |  SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) AS x
        |  FROM orders),
        |m0 AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS s1,
        |    sum(x::HUGEINT * x) AS s2, sum(x::HUGEINT * x * x) AS s3,
        |    sum(x::HUGEINT * x * x * x) AS s4
        |  FROM x),
        |m1 AS (
        |  SELECT n, s2, s3, s4, s1::DOUBLE / n::DOUBLE AS mu
        |  FROM m0),
        |m2 AS (
        |  SELECT n, mu,
        |    s2::DOUBLE / n::DOUBLE - mu * mu AS m2,
        |    s3::DOUBLE / n::DOUBLE - 3.0 * mu * (s2::DOUBLE / n::DOUBLE)
        |      + 2.0 * mu * mu * mu AS m3,
        |    s4::DOUBLE / n::DOUBLE - 4.0 * mu * (s3::DOUBLE / n::DOUBLE)
        |      + 6.0 * mu * mu * (s2::DOUBLE / n::DOUBLE)
        |      - 3.0 * mu * mu * mu * mu AS m4
        |  FROM m1),
        |st AS (
        |  SELECT n, m2,
        |    m3 / (m2 * sqrt(m2)) AS skew,
        |    m4 / (m2 * m2) - 3.0 AS exk
        |  FROM m2),
        |jb AS (
        |  SELECT n, m2, skew, exk,
        |    n::DOUBLE / 6.0 * (skew * skew + exk * exk / 4.0) AS jb
        |  FROM st)
        |SELECT n AS n_orders,
        |  CASE WHEN n > 0 AND m2 > 0.0 THEN
        |    floor(skew * 1000000.0 + 0.5) / 1000000.0 END AS skewness,
        |  CASE WHEN n > 0 AND m2 > 0.0 THEN
        |    floor(exk * 1000000.0 + 0.5) / 1000000.0 END AS ex_kurtosis,
        |  CASE WHEN n > 0 AND m2 > 0.0 THEN
        |    floor(jb * 10000.0 + 0.5) / 10000.0 END AS jb_stat,
        |  CASE WHEN n > 0 AND m2 > 0.0 THEN jb > 5.991
        |    END AS reject_normal
        |FROM jb WHERE n > 0""".stripMargin,
    "daily_kendall" ->
      """WITH d AS (
        |  SELECT o_orderdate,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      // 100 AS BIGINT) AS x,
        |    count(*)::BIGINT AS y
        |  FROM orders GROUP BY o_orderdate),
        |p AS (
        |  SELECT count(*)::BIGINT AS n0,
        |    coalesce(sum(CASE WHEN sign(b.x - a.x) * sign(b.y - a.y) > 0
        |      THEN 1 ELSE 0 END), 0)::BIGINT AS conc,
        |    coalesce(sum(CASE WHEN sign(b.x - a.x) * sign(b.y - a.y) < 0
        |      THEN 1 ELSE 0 END), 0)::BIGINT AS disc,
        |    coalesce(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END), 0)
        |      ::BIGINT AS tx,
        |    coalesce(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END), 0)
        |      ::BIGINT AS ty
        |  FROM d a JOIN d b ON a.o_orderdate < b.o_orderdate),
        |nf AS (SELECT count(*)::BIGINT AS n_days FROM d)
        |SELECT n_days, n0 AS n_pairs, conc AS concordant,
        |  disc AS discordant,
        |  CASE WHEN (n0 - tx)::HUGEINT * (n0 - ty) > 0 THEN
        |    floor((conc - disc)::DOUBLE /
        |      sqrt(((n0 - tx)::HUGEINT * (n0 - ty))::DOUBLE)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS tau_b
        |FROM p, nf WHERE n_days > 0""".stripMargin,
    "revenue_durbin_watson" ->
      """WITH o AS (
        |  SELECT o_orderdate::DATE AS day,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |d0 AS (SELECT min(day) AS d0 FROM o),
        |daily AS (
        |  SELECT day, sum(cents) // 100 AS y
        |  FROM o GROUP BY 1),
        |dx AS (
        |  SELECT day, datediff('day', d0.d0, daily.day)::BIGINT AS x, y
        |  FROM daily, d0),
        |mo AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x::HUGEINT * y) AS sxy,
        |    sum(x::HUGEINT * x) AS sxx
        |  FROM dx),
        |fit AS (
        |  SELECT n,
        |    CASE WHEN n * sxx - sx::HUGEINT * sx > 0 THEN
        |      (n * sxy - sx::HUGEINT * sy)::DOUBLE /
        |        (n * sxx - sx::HUGEINT * sx)::DOUBLE
        |    ELSE 0.0 END AS b,
        |    sx::DOUBLE AS sxd, sy::DOUBLE AS syd
        |  FROM mo),
        |fit2 AS (
        |  SELECT n, b,
        |    CASE WHEN n > 0 THEN (syd - b * sxd) / n ELSE 0.0 END AS a
        |  FROM fit),
        |resid AS (
        |  SELECT day,
        |    CAST(floor((y::DOUBLE - a - b * x) * 1000000.0 + 0.5)
        |      AS BIGINT) AS u
        |  FROM dx, fit2),
        |lagd AS (
        |  SELECT u, u - lag(u) OVER (ORDER BY day) AS du
        |  FROM resid),
        |s AS (
        |  SELECT count(*)::BIGINT AS n_days,
        |    coalesce(sum(u::HUGEINT * u), 0::HUGEINT) AS see,
        |    coalesce(sum(du::HUGEINT * du), 0::HUGEINT) AS sdd
        |  FROM lagd)
        |SELECT n_days,
        |  CASE WHEN n_days > 1 AND see > 0 THEN
        |    floor(sdd::DOUBLE / see::DOUBLE * 1000000.0 + 0.5)
        |      / 1000000.0 END AS dw,
        |  CASE WHEN n_days > 1 AND see > 0 THEN
        |    floor((1.0 - sdd::DOUBLE / see::DOUBLE / 2.0)
        |      * 1000000.0 + 0.5) / 1000000.0 END AS rho_hat
        |FROM s WHERE n_days > 0""".stripMargin,
    "events_brown_forsythe" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |med AS (
        |  SELECT event_type,
        |    CAST(floor(quantile_cont(c, 0.5) * 2.0 + 0.5) AS BIGINT)
        |      AS m2
        |  FROM ev GROUP BY 1),
        |z AS (
        |  SELECT ev.event_type, abs(2 * c - m2)::BIGINT AS z
        |  FROM ev JOIN med USING (event_type)),
        |g AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    sum(z)::BIGINT AS s, sum(z::HUGEINT * z) AS q
        |  FROM z GROUP BY event_type),
        |f AS (
        |  SELECT count(*)::BIGINT AS k,
        |    coalesce(sum(n), 0)::BIGINT AS nn,
        |    coalesce(sum(s), 0)::BIGINT AS ss,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      coalesce(list(q::DOUBLE ORDER BY event_type), [])),
        |      (a, x) -> a + x) AS qq,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      coalesce(list(s::DOUBLE * s / n ORDER BY event_type), [])),
        |      (a, x) -> a + x) AS aa
        |  FROM g),
        |d AS (
        |  SELECT k, nn,
        |    aa - ss::DOUBLE * ss / nn AS ssb,
        |    qq - aa AS ssw
        |  FROM f)
        |SELECT k, nn,
        |  CASE WHEN k > 1 AND nn > k AND ssw > 0.0 THEN
        |    floor((ssb / (k - 1)) / (ssw / (nn - k)) * 10000.0 + 0.5)
        |      / 10000.0 END AS f_stat
        |FROM d WHERE nn > 0""".stripMargin,
    "revenue_mann_kendall" ->
      """WITH d AS (
        |  SELECT o_orderdate,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      // 100 AS BIGINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |s AS (
        |  SELECT coalesce(CAST(sum(sign(b.x - a.x)) AS BIGINT), 0)
        |    AS s_stat
        |  FROM d a JOIN d b ON a.o_orderdate < b.o_orderdate),
        |nf AS (SELECT count(*)::BIGINT AS n FROM d),
        |tg AS (SELECT x, count(*)::BIGINT AS t FROM d GROUP BY x),
        |ts AS (
        |  SELECT coalesce(sum(t::HUGEINT * (t - 1) * (2 * t + 5)),
        |    0::HUGEINT) AS tsum
        |  FROM tg),
        |m AS (
        |  SELECT n, s_stat,
        |    n::HUGEINT * (n - 1) * (2 * n + 5) - tsum AS var_num
        |  FROM s, nf, ts)
        |SELECT n AS n_days, s_stat,
        |  CASE WHEN var_num > 0 THEN
        |    floor(var_num::DOUBLE / 18.0 * 10000.0 + 0.5) / 10000.0
        |  END AS var_s,
        |  CASE WHEN var_num > 0 THEN
        |    CASE WHEN s_stat > 0 THEN
        |      floor((s_stat - 1)::DOUBLE /
        |        sqrt(var_num::DOUBLE / 18.0) * 1000000.0 + 0.5)
        |        / 1000000.0
        |    WHEN s_stat < 0 THEN
        |      floor((s_stat + 1)::DOUBLE /
        |        sqrt(var_num::DOUBLE / 18.0) * 1000000.0 + 0.5)
        |        / 1000000.0
        |    ELSE 0.0 END
        |  END AS z,
        |  CASE WHEN var_num > 0 THEN
        |    abs(CASE WHEN s_stat > 0 THEN
        |      floor((s_stat - 1)::DOUBLE /
        |        sqrt(var_num::DOUBLE / 18.0) * 1000000.0 + 0.5)
        |        / 1000000.0
        |    WHEN s_stat < 0 THEN
        |      floor((s_stat + 1)::DOUBLE /
        |        sqrt(var_num::DOUBLE / 18.0) * 1000000.0 + 0.5)
        |        / 1000000.0
        |    ELSE 0.0 END) > 1.96
        |  END AS trend
        |FROM m WHERE n > 0""".stripMargin,
    "revenue_runs_test" ->
      """WITH d AS (
        |  SELECT o_orderdate,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      // 100 AS BIGINT) AS x
        |  FROM orders GROUP BY o_orderdate),
        |md AS (SELECT quantile_cont(x, 0.5) AS med FROM d),
        |mk AS (
        |  SELECT o_orderdate,
        |    CASE WHEN x > med THEN 1 ELSE 0 END::BIGINT AS above
        |  FROM d, md WHERE x <> med),
        |lg AS (
        |  SELECT above,
        |    CASE WHEN lag(above) OVER (ORDER BY o_orderdate) IS NULL
        |      OR lag(above) OVER (ORDER BY o_orderdate) <> above
        |      THEN 1 ELSE 0 END::BIGINT AS brk
        |  FROM mk),
        |r AS (
        |  SELECT coalesce(CAST(sum(brk) AS BIGINT), 0) AS n_runs,
        |    coalesce(CAST(sum(above) AS BIGINT), 0) AS a,
        |    coalesce(CAST(sum(1 - above) AS BIGINT), 0) AS b
        |  FROM lg)
        |SELECT n_runs, a AS n_above, b AS n_below,
        |  CASE WHEN a > 0 AND b > 0 THEN
        |    floor((1.0 + (a::HUGEINT * b * 2)::DOUBLE / (a + b))
        |      * 10000.0 + 0.5) / 10000.0
        |  END AS mu_runs,
        |  CASE WHEN a > 0 AND b > 0 AND a + b > 1
        |      AND a::HUGEINT * b * 2 * (a::HUGEINT * b * 2 - (a + b))
        |        > 0 THEN
        |    floor((n_runs - (1.0 + (a::HUGEINT * b * 2)::DOUBLE
        |        / (a + b))) /
        |      sqrt((a::HUGEINT * b * 2
        |          * (a::HUGEINT * b * 2 - (a + b)))::DOUBLE /
        |        ((a + b)::DOUBLE * (a + b) * (a + b - 1)))
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS z
        |FROM r WHERE n_runs > 0 OR n_above > 0 OR n_below > 0""".stripMargin,
    "order_value_hill" ->
      """WITH top AS (
        |  SELECT c,
        |    CAST(floor(ln(c::DOUBLE) * 1000000000.0 + 0.5) AS BIGINT)
        |      AS lnu
        |  FROM (
        |    SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |      AS c
        |    FROM orders) u
        |  WHERE c > 0 ORDER BY c DESC LIMIT 201),
        |m AS (
        |  SELECT count(*)::BIGINT AS n, min(c) AS t_cents,
        |    min(lnu) AS lnt, sum(lnu)::BIGINT AS slnu
        |  FROM top)
        |SELECT n - 1 AS k_used, t_cents,
        |  CASE WHEN n > 1 AND slnu - n * lnt > 0 THEN
        |    floor((n - 1)::DOUBLE /
        |      ((slnu - n * lnt)::DOUBLE / 1000000000.0)
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS hill_alpha
        |FROM m WHERE n - 1 >= 0""".stripMargin,
    "daily_spearman" ->
      """WITH d AS (
        |  SELECT o_orderdate::DATE AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      // 100 AS BIGINT) AS rev,
        |    count(*) AS cnt
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT CAST(2 * rank() OVER (ORDER BY rev)
        |      + count(*) OVER (PARTITION BY rev) - 1 AS BIGINT) AS x,
        |    CAST(2 * rank() OVER (ORDER BY cnt)
        |      + count(*) OVER (PARTITION BY cnt) - 1 AS BIGINT) AS y
        |  FROM d),
        |m AS (
        |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x::HUGEINT * y) AS sxy,
        |    sum(x::HUGEINT * x) AS sxx, sum(y::HUGEINT * y) AS syy
        |  FROM r)
        |SELECT n AS n_days,
        |  CASE WHEN n * sxx - sx::HUGEINT * sx > 0
        |      AND n * syy - sy::HUGEINT * sy > 0 THEN
        |    floor((n * sxy - sx::HUGEINT * sy)::DOUBLE
        |      / (sqrt((n * sxx - sx::HUGEINT * sx)::DOUBLE)
        |        * sqrt((n * syy - sy::HUGEINT * sy)::DOUBLE))
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS spearman_rho
        |FROM m WHERE n > 0""".stripMargin,
    "user_value_theil" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS t
        |  FROM events GROUP BY user_id),
        |p2 AS (SELECT t FROM per WHERE t > 0),
        |m AS (
        |  SELECT count(*)::BIGINT AS n_users,
        |    CAST(sum(t) AS BIGINT) AS total_cents,
        |    sum(CAST(floor(t::DOUBLE * ln(t::DOUBLE) * 1000.0 + 0.5)
        |      AS HUGEINT)) AS stlnu
        |  FROM p2)
        |SELECT n_users, total_cents,
        |  CASE WHEN n_users > 0 AND total_cents > 0 THEN
        |    floor((stlnu::DOUBLE / 1000.0 / total_cents
        |      + ln(n_users::DOUBLE / total_cents)) * 1000000.0 + 0.5)
        |      / 1000000.0
        |  END AS theil_t
        |FROM m WHERE n_users > 0""".stripMargin,
    "events_wilson_reach" ->
      """WITH bt AS (
        |  SELECT event_type, count(DISTINCT user_id)::BIGINT AS x
        |  FROM events GROUP BY event_type),
        |t AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events)
        |SELECT event_type, x, n,
        |  floor(x::DOUBLE / n * 1000000.0 + 0.5) / 1000000.0 AS p,
        |  floor((x::DOUBLE / n + 3.8416 / (2.0 * n)
        |    - 1.96 * sqrt((x::DOUBLE / n) * (1.0 - x::DOUBLE / n) / n
        |      + 3.8416 / (4.0 * n * n)))
        |    / (1.0 + 3.8416 / n) * 1000000.0 + 0.5) / 1000000.0
        |    AS wilson_lo,
        |  floor((x::DOUBLE / n + 3.8416 / (2.0 * n)
        |    + 1.96 * sqrt((x::DOUBLE / n) * (1.0 - x::DOUBLE / n) / n
        |      + 3.8416 / (4.0 * n * n)))
        |    / (1.0 + 3.8416 / n) * 1000000.0 + 0.5) / 1000000.0
        |    AS wilson_hi
        |FROM bt, t ORDER BY event_type""".stripMargin,
    "revenue_ewma_chart" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderdate::DATE AS day,
        |    sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      // 100 AS y
        |  FROM orders GROUP BY 1),
        |idx AS (
        |  SELECT day, y::DOUBLE AS y,
        |    row_number() OVER (ORDER BY day) AS t FROM daily),
        |mom AS (
        |  SELECT count(*)::BIGINT AS nd, sum(y::HUGEINT)::DOUBLE AS sy,
        |    sum(y::HUGEINT * y)::DOUBLE AS syy
        |  FROM daily),
        |st AS (
        |  SELECT nd, sy / nd AS mu,
        |    sqrt(greatest((syy - sy * sy / nd) / nd, 0.0)) AS sigma
        |  FROM mom),
        |ew AS (
        |  SELECT t, day, y, y AS e FROM idx WHERE t = 1
        |  UNION ALL
        |  SELECT i.t, i.day, i.y, 0.2 * i.y + 0.8 * ew.e
        |  FROM idx i JOIN ew ON i.t = ew.t + 1)
        |SELECT ew.t::BIGINT AS t, ew.day,
        |  floor(ew.e * 10000.0 + 0.5) / 10000.0 AS ewma,
        |  floor((st.mu - 3.0 * st.sigma * sqrt(0.2 / 1.8
        |    * (1.0 - power(0.8, 2 * ew.t)))) * 10000.0 + 0.5) / 10000.0
        |    AS lcl,
        |  floor((st.mu + 3.0 * st.sigma * sqrt(0.2 / 1.8
        |    * (1.0 - power(0.8, 2 * ew.t)))) * 10000.0 + 0.5) / 10000.0
        |    AS ucl,
        |  (ew.e > st.mu + 3.0 * st.sigma * sqrt(0.2 / 1.8
        |    * (1.0 - power(0.8, 2 * ew.t)))
        |   OR ew.e < st.mu - 3.0 * st.sigma * sqrt(0.2 / 1.8
        |    * (1.0 - power(0.8, 2 * ew.t)))) AS breach
        |FROM ew, st ORDER BY t""".stripMargin,
    "events_anova" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |g AS (
        |  SELECT event_type, count(*)::BIGINT AS n,
        |    sum(c)::BIGINT AS s, sum(c::HUGEINT * c) AS q
        |  FROM ev GROUP BY event_type),
        |f AS (
        |  SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
        |    sum(s)::BIGINT AS ss,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      coalesce(list(q::DOUBLE ORDER BY event_type), [])),
        |      (a, x) -> a + x) AS qq,
        |    list_reduce(list_prepend(0.0::DOUBLE,
        |      coalesce(list(s::DOUBLE * s / n ORDER BY event_type), [])),
        |      (a, x) -> a + x) AS aa
        |  FROM g),
        |d AS (
        |  SELECT k, nn,
        |    aa - ss::DOUBLE * ss / nn AS ssb,
        |    qq - aa AS ssw
        |  FROM f)
        |SELECT k, nn,
        |  CASE WHEN nn > 0 THEN floor(ssb * 10000.0 + 0.5) / 10000.0
        |    END AS ssb,
        |  CASE WHEN nn > 0 THEN floor(ssw * 10000.0 + 0.5) / 10000.0
        |    END AS ssw,
        |  CASE WHEN k > 1 AND nn > k AND ssw > 0.0 THEN
        |    floor((ssb / (k - 1)) / (ssw / (nn - k)) * 10000.0 + 0.5)
        |      / 10000.0 END AS f_stat,
        |  CASE WHEN ssb + ssw > 0.0 THEN
        |    floor(ssb / (ssb + ssw) * 10000.0 + 0.5) / 10000.0
        |    END AS eta_sq
        |FROM d""".stripMargin,
    "revenue_ccf" ->
      """WITH daily AS (
        |  SELECT o_orderdate::DATE AS day,
        |    sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |      // 100 AS rev,
        |    count(*)::BIGINT AS cnt
        |  FROM orders GROUP BY 1),
        |lags AS (SELECT range::BIGINT AS lag FROM range(-7, 8)),
        |m AS (
        |  SELECT l.lag, count(*)::BIGINT AS n_pairs,
        |    sum(a.rev)::BIGINT AS sx, sum(b.cnt)::BIGINT AS sy,
        |    sum(a.rev::HUGEINT * b.cnt) AS sxy,
        |    sum(a.rev::HUGEINT * a.rev) AS sxx,
        |    sum(b.cnt::HUGEINT * b.cnt) AS syy
        |  FROM lags l
        |  CROSS JOIN daily a
        |  JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
        |  GROUP BY l.lag)
        |SELECT lag, n_pairs,
        |  CASE WHEN n_pairs > 1
        |    AND n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx > 0.0
        |    AND n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy > 0.0
        |  THEN floor(
        |    (n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy)
        |    / sqrt((n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx)
        |         * (n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy))
        |    * 1000000.0 + 0.5) / 1000000.0 END AS r
        |FROM m ORDER BY lag""".stripMargin,
    "text_simpson" ->
      """WITH tk AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |cnt AS (
        |  SELECT source, token, count(*)::BIGINT AS n
        |  FROM tk WHERE token <> '' GROUP BY 1, 2),
        |s AS (
        |  SELECT source, sum(n)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS vocab,
        |    sum(n::HUGEINT * (n - 1)) AS pairs
        |  FROM cnt GROUP BY source)
        |SELECT source, n_tokens, vocab,
        |  CASE WHEN n_tokens > 1 THEN
        |    floor((1.0 - pairs::DOUBLE
        |      / (n_tokens::DOUBLE * (n_tokens - 1)))
        |      * 1000000.0 + 0.5) / 1000000.0 END AS simpson,
        |  CASE WHEN pairs > 0 THEN
        |    floor(n_tokens::DOUBLE * (n_tokens - 1) / pairs::DOUBLE
        |      * 10000.0 + 0.5) / 10000.0 END AS inv_simpson
        |FROM s ORDER BY source""".stripMargin,
    "segment_trend" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate::DATE AS day,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |d0 AS (SELECT min(day) AS d0 FROM o),
        |daily AS (
        |  SELECT c.c_mktsegment AS segment,
        |    datediff('day', d0.d0, o.day)::BIGINT AS x,
        |    sum(o.cents) // 100 AS y
        |  FROM o JOIN customer c ON c.c_custkey = o.o_custkey, d0
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT segment, count(*) AS n_days,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
        |  FROM daily GROUP BY segment)
        |SELECT segment, n_days,
        |  CASE WHEN n_days * sxx - sx::HUGEINT * sx > 0 THEN
        |    floor((n_days * sxy - sx::HUGEINT * sy)::DOUBLE
        |      / (n_days * sxx - sx::HUGEINT * sx) * 1000000.0 + 0.5) / 1000000.0
        |  END AS slope,
        |  CASE WHEN n_days * sxx - sx::HUGEINT * sx > 0 THEN
        |    floor((sy::DOUBLE - (n_days * sxy - sx::HUGEINT * sy)::DOUBLE
        |      / (n_days * sxx - sx::HUGEINT * sx) * sx) / n_days * 100.0 + 0.5)
        |      / 100.0
        |  END AS intercept
        |FROM m ORDER BY segment""".stripMargin,
    "events_chi2_independence" ->
      """WITH ev AS (
        |  SELECT event_type, date_part('dow', ts)::BIGINT AS dow
        |  FROM events),
        |cells AS (
        |  SELECT event_type, dow, count(*) AS o
        |  FROM ev GROUP BY 1, 2),
        |r AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY 1),
        |c AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY 1),
        |n AS (SELECT sum(o)::BIGINT AS nn FROM cells),
        |grid AS (
        |  SELECT r.event_type, c.dow, r.rt, c.ct, n.nn,
        |    coalesce(cells.o, 0) AS o
        |  FROM r CROSS JOIN c CROSS JOIN n
        |  LEFT JOIN cells ON cells.event_type = r.event_type
        |    AND cells.dow = c.dow),
        |s AS (
        |  SELECT count(DISTINCT event_type) AS n_types,
        |    count(DISTINCT dow) AS n_dows,
        |    max(nn) AS n_events,
        |    list_reduce(list_prepend(0.0::DOUBLE, coalesce(list(
        |        (o - rt::DOUBLE * ct / nn) * (o - rt::DOUBLE * ct / nn)
        |        / (rt::DOUBLE * ct / nn)
        |        ORDER BY event_type, dow), [])),
        |      (a, x) -> a + x) AS chi2raw
        |  FROM grid)
        |SELECT n_types, n_dows, n_events,
        |  floor(chi2raw * 1000000.0 + 0.5) / 1000000.0 AS chi2,
        |  (n_types - 1) * (n_dows - 1) AS dof,
        |  CASE WHEN least(n_types, n_dows) > 1 THEN
        |    floor(sqrt(chi2raw / (n_events * (least(n_types, n_dows) - 1)))
        |      * 1000000.0 + 0.5) / 1000000.0
        |  END AS cramers_v
        |FROM s""".stripMargin,
    "revenue_benford" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(
        |    CAST(floor(abs(o_totalprice) * 100.0 + 0.5) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders
        |  WHERE CAST(floor(abs(o_totalprice) * 100.0 + 0.5) AS BIGINT) > 0),
        |t AS (SELECT count(*) AS nn FROM d)
        |SELECT digit, count(*) AS n,
        |  floor(count(*)::DOUBLE / nn * 1000000.0 + 0.5) / 1000000.0
        |    AS share,
        |  floor(log10(1.0 + 1.0 / digit) * 1000000.0 + 0.5) / 1000000.0
        |    AS benford_p,
        |  floor((count(*)::DOUBLE / nn - log10(1.0 + 1.0 / digit))
        |    * 1000000.0 + 0.5) / 1000000.0 AS delta
        |FROM d, t GROUP BY digit, nn ORDER BY digit""".stripMargin,
    "orders_winsorized_mean" ->
      """WITH v AS (
        |  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
        |    AS cents
        |  FROM orders),
        |nk AS (
        |  SELECT count(*)::BIGINT AS n,
        |    count(*)::BIGINT * 5 // 100 AS k FROM v),
        |rk AS (
        |  SELECT cents, row_number() OVER (ORDER BY cents) AS r FROM v),
        |lo AS (SELECT cents AS lo FROM rk, nk WHERE r = nk.k + 1),
        |hi AS (SELECT cents AS hi FROM rk, nk WHERE r = nk.n - nk.k)
        |SELECT nk.n AS n_orders, nk.k AS n_clamped_each,
        |  lo.lo::DOUBLE / 100.0 AS lo_cut,
        |  hi.hi::DOUBLE / 100.0 AS hi_cut,
        |  floor(sum(greatest(least(v.cents, hi.hi), lo.lo))::DOUBLE
        |    / nk.n + 0.5) / 100.0 AS winsorized_mean,
        |  floor(sum(v.cents)::DOUBLE / nk.n + 0.5) / 100.0 AS raw_mean
        |FROM v, nk, lo, hi
        |GROUP BY nk.n, nk.k, lo.lo, hi.hi""".stripMargin,
    "stratified_sample_plan" ->
      """WITH m AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(length(text)::BIGINT) AS sl,
        |    sum(length(text)::HUGEINT * length(text)) AS sl2
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs,
        |    (sl2::DOUBLE - sl::DOUBLE * sl / n_docs) / n_docs AS varl,
        |    n_docs * sqrt(greatest(
        |      (sl2::DOUBLE - sl::DOUBLE * sl / n_docs) / n_docs, 0.0))
        |      AS w
        |  FROM m),
        |t AS (SELECT sum(w) AS tw, sum(n_docs)::DOUBLE AS tn FROM w),
        |e AS (
        |  SELECT source, n_docs, varl,
        |    CASE WHEN tw > 0 THEN 1000.0 * w / tw
        |      ELSE 1000.0 * n_docs / tn END AS exact_alloc
        |  FROM w, t),
        |p AS (
        |  SELECT source, n_docs, varl, exact_alloc,
        |    CAST(floor(exact_alloc) AS BIGINT) AS alloc_floor,
        |    exact_alloc - floor(exact_alloc) AS frac
        |  FROM e),
        |s AS (SELECT 1000 - sum(alloc_floor) AS rem FROM p)
        |SELECT source, n_docs,
        |  floor(sqrt(greatest(varl, 0.0)) * 10000.0 + 0.5) / 10000.0
        |    AS std_len,
        |  floor(exact_alloc * 10000.0 + 0.5) / 10000.0 AS exact_alloc,
        |  alloc_floor + CASE WHEN row_number() OVER
        |      (ORDER BY frac DESC, source) <= rem
        |    THEN 1 ELSE 0 END AS alloc
        |FROM p, s ORDER BY source""".stripMargin)
}
