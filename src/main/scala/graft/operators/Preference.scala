package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Preference-data curation: the pairwise-comparison face of a training
  * pipeline (RLHF reward data, eval A/B panels, annotator triage).
  *
  * Reference scope: the reference dashboard has no preference operators —
  * this family is part of the beyond-reference LLM-pipeline surface, like
  * the dedup/ANN/selection families. Two operators:
  *
  *  - [[bradleyTerryFixedPoint]]: latent strength estimation over a
  *    (winner, loser) pair table via the Bradley–Terry minorization-
  *    maximization recurrence (Hunter 2004, "MM algorithms for
  *    generalized Bradley-Terry models", Annals of Statistics):
  *
  *      s_i ← W_i / Σ_j n_ij / (s_i + s_j),  renormalized to mean 1
  *
  *    run in INTEGER fixed point (the q120 unrolled-fixed-point idiom:
  *    every quantity a BIGINT, every division a floor division, every
  *    sum an order-independent integer sum) so a SQL oracle replays the
  *    recurrence bit-exactly — no float-association drift across engines.
  *
  *  - [[annotatorAudit]]: per-annotator quality screen over judgment
  *    rows — agreement with the per-pair majority verdict and first-
  *    position win counts (position bias), the two standard triage
  *    signals for dropping noisy/biased raters before reward training.
  *
  * Scale posture: the raw judgment table is the 100 TB object; every
  * stage aggregates it ONCE to bounded tables (per-item wins, per-
  * ordered-pair counts — at most |items|² rows) and iterates over THOSE.
  * Each MM iteration is two shuffle joins of the pair aggregate against
  * the score table on item keys plus one scalar total, run through
  * [[Fixpoint.rounds]] (the PageRank posture). The
  * annotator audit shuffles the judgment table twice (pair majority,
  * then annotator rollup) with the tiny majority table broadcast back.
  */
object Preference {

  /** Fixed-point unit of every Bradley–Terry strength: the mean item
    * strength after each round's renormalization. */
  private val Scale = 1000000L

  /** Exact integer floor-sqrt as a COLUMN (the per-row twin of
    * [[Mixing.isqrt]]): floor(sqrt(double)) plus a one-step correction in
    * each direction. The double error for any x < 2^63 is far below 1
    * (|sqrt(x̂)−sqrt(x)| ≤ sqrt(x)·2^-52 ≈ 7e-7 at the top of the range),
    * so the ±1 correction makes the result exact over the full Long
    * domain — an oracle replays the identical three-step expression. */
  private[graft] def isqrtCol(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val s1 = when(s0 * s0 > x, s0 - 1).otherwise(s0)
    when((s1 + 1) * (s1 + 1) <= x, s1 + 1).otherwise(s1)
  }

  /** GRPO-style group-relative reward normalization (Shao et al. 2024,
    * "DeepSeekMath", §4: advantage = (r − mean(group)) / std(group) over
    * the completions sharing one prompt — the critic-free advantage every
    * group-sampled RLHF batch computes before the policy update). All
    * integer, oracle-replayable:
    *
    *   n, Σr, Σr²   per group (exact Long sums)
    *   mean_fp      = sign·(|Σr|·SCALE div n)                (SCALE=1e6)
    *   var_num      = n·Σr² − (Σr)²                          (≥ 0 exact)
    *   std_milli    = isqrt(var_num·MILLI² div n²)           (MILLI=1e3;
    *                  std in 1e-3 reward units)
    *   adv_fp       = sign·(|r·n − Σr|·MILLI·SCALE
    *                        div (n·max(std_milli, 1)))
    *
    * Every division sees non-negative operands (sign carried outside, the
    * KMeans posture), so `div` == `//` across engines. Overflow envelope:
    * (n_g·max|r|)²·MILLI² must stay under 2^63 → max|r|·max n_g ≤ 3e6,
    * checked loudly with one bounded aggregate (the BT-fit precedent).
    *
    * Scale posture: groups are prompt-sized (tens of completions), so ONE
    * hash shuffle to the group key computes the three window sums and the
    * per-row advantage in the same exchange — no stats join, no second
    * scan, no driver state. Returns the input grain plus
    * `(grp_n, mean_fp, std_milli, adv_fp)`. */
  def groupAdvantage(
      rewards: DataFrame,
      groupCol: String,
      idCol: String,
      rewardCol: String): DataFrame = {
    val scale = 1000000L
    val milli = 1000L
    val df = rewards.select(
      col(idCol).cast("long").as("id"),
      col(groupCol).cast("long").as("grp"),
      col(rewardCol).cast("long").as("reward"))
    val env = df.groupBy("grp")
      .agg(count(lit(1)).as("n"), max(abs(col("reward"))).as("m"))
      .agg(max(expr("n * m")).as("nm")).head()
    require(env.isNullAt(0) || env.getLong(0) <= 3000000L,
      s"groupAdvantage overflow envelope: max(group n · max|reward|) = " +
        s"${env.getLong(0)} exceeds 3e6 (var_num·MILLI² must fit 2^63)")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
    val stats = df
      .withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("sum_r", sum(col("reward")).over(w))
      .withColumn("sum_r2", sum(col("reward") * col("reward")).over(w))
    stats
      .withColumn("mean_fp",
        when(col("sum_r") < 0,
          -expr(s"abs(sum_r) * ${scale}L div grp_n"))
          .otherwise(expr(s"sum_r * ${scale}L div grp_n")))
      .withColumn("var_num",
        col("grp_n") * col("sum_r2") - col("sum_r") * col("sum_r"))
      .withColumn("std_milli",
        isqrtCol(expr(s"var_num * ${milli * milli}L div (grp_n * grp_n)")))
      .withColumn("adv_fp",
        when(col("reward") * col("grp_n") - col("sum_r") < 0,
          -expr(s"abs(reward * grp_n - sum_r) * ${milli * scale}L " +
            s"div (grp_n * greatest(std_milli, 1L))"))
          .otherwise(expr(s"(reward * grp_n - sum_r) * ${milli * scale}L " +
            s"div (grp_n * greatest(std_milli, 1L))")))
      .select("id", "grp", "reward", "grp_n", "mean_fp", "std_milli", "adv_fp")
  }

  /** Fixed-point Bradley–Terry strengths from a (winner, loser) pair
    * table. Returns `(item, wins, score)` — score is the MM strength
    * after `iterations` rounds in fixed point at SCALE = 1e6 (mean item
    * strength ≡ SCALE after each round's renormalization), unsorted.
    *
    * Integer contract (the part an oracle replays exactly):
    *   s0_i      = SCALE
    *   t_ij      = n_ij · SCALE² div (s_i + s_j)          (per ordered pair)
    *   denom_i   = Σ_j t_ij                               (integer sum)
    *   raw_i     = W_i · SCALE² div denom_i
    *   s'_i      = max(raw_i · (N·SCALE) div Σ raw, 1)    (renormalize;
    *               floor 1 keeps zero-win items from zeroing a later
    *               s_i + s_j denominator)
    *
    * Overflow envelope: n_ij·SCALE² and W_i·SCALE² must stay under 2^63 —
    * at SCALE=1e6 that caps per-pair and per-item win counts
    * at ~9.2e6. Beyond that, pre-aggregate with a count cap or raise the
    * item grain; the require below makes the envelope loud.
    */
  def bradleyTerryFixedPoint(
      pairs: DataFrame,
      winnerCol: String,
      loserCol: String,
      iterations: Int = 5): DataFrame = {
    val p = pairs.select(
      col(winnerCol).cast("long").as("w"), col(loserCol).cast("long").as("l"))
    // ONE pass over the (possibly huge) judgment table builds the bounded
    // counts grain the recurrence actually consumes
    bradleyTerryFromCounts(
      p.groupBy("w", "l").agg(count(lit(1)).as("n")),
      "w", "l", "n", iterations)
  }

  /** The same fit from a PRE-AGGREGATED (winner, loser, count) table —
    * the grain an incremental/streaming caller accumulates (per-batch
    * pair counts add associatively, so a fit over summed counts is
    * bit-identical to the batch fit over the raw judgments; see
    * [[graft.streaming.PreferenceStream]]). Duplicate (winner, loser)
    * rows are summed here, so callers may append per-batch drops
    * without pre-merging. */
  def bradleyTerryFromCounts(
      counts: DataFrame,
      winnerCol: String,
      loserCol: String,
      nCol: String,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1 && iterations <= 50, "iterations in [1, 50]")
    val c = counts.select(
        col(winnerCol).cast("long").as("w"), col(loserCol).cast("long").as("l"),
        col(nCol).cast("long").as("cn"))
      .groupBy("w", "l").agg(sum(col("cn")).as("cn"))
    val wins = c.groupBy(col("w").as("item")).agg(sum(col("cn")).as("wins"))
    val sym = c.select(col("w").as("i"), col("l").as("j"), col("cn"))
      .unionAll(c.select(col("l").as("i"), col("w").as("j"), col("cn")))
      .groupBy("i", "j").agg(sum(col("cn")).as("n"))
      .localCheckpoint()
    val items = sym.select(col("i").as("item")).distinct()
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"))
      .localCheckpoint()
    val nItems = items.count() // bounded driver scalar (the nlist precedent)
    require(nItems > 0, "empty pair table")
    val sq = Scale * Scale
    val maxN = sym.agg(max(col("n")).as("m")).head().getLong(0)
    val maxW = items.agg(max(col("wins")).as("m")).head().getLong(0)
    require(maxN <= Long.MaxValue / sq && maxW <= Long.MaxValue / sq,
      s"fixed-point overflow: max pair count $maxN / max wins $maxW " +
        s"exceed the 2^63/SCALE² envelope at SCALE=$Scale")
    val init = items.select(col("item"), lit(Scale).as("score"))
    val fit = Fixpoint.rounds(init, iterations) { (scores, _) =>
      val denom = sym
        .join(scores.select(col("item").as("i"), col("score").as("si")), Seq("i"))
        .join(scores.select(col("item").as("j"), col("score").as("sj")), Seq("j"))
        .select(col("i"), expr(s"n * ${sq}L div (si + sj)").as("t"))
        .groupBy("i").agg(sum(col("t")).as("denom"))
      val raw = items.join(denom, col("item") === col("i"))
        .select(col("item"), expr(s"wins * ${sq}L div denom").as("raw"))
      val total = raw.agg(sum(col("raw")).as("total"))
      raw.crossJoin(total)
        .select(col("item"),
          greatest(expr(s"raw * ${nItems * Scale}L div total"), lit(1L)).as("score"))
    }
    items.join(fit, Seq("item")).select("item", "wins", "score")
  }

  /** Reliability diagram for a fitted Bradley–Terry model (the q161
    * gate-calibration analog for preference data): each judgment is
    * scored with the model's predicted win probability for the SMALLER
    * item id of its pair (a deterministic orientation — predicting "the
    * winner's" probability would be 1 by construction),
    *
    *   ppm = s_lo · SCALE div (s_lo + s_hi)        (fixed point, < SCALE)
    *
    * bucketed into `buckets` predicted-probability bins, and compared
    * with the observed lo-win rate per bin — a well-calibrated fit has
    * `obs_bp ≈ avg_pred_bp` in every bin; a large `gap_bp` in some bin
    * localizes where the model (or the raters) disagree with the data.
    * All integer: counts, floor-division basis points, ppm sums.
    *
    * Plan: two broadcast joins of the judgment table against the
    * bounded strengths table, then one partial-aggregated shuffle to
    * `buckets` keys. Returns one row per non-empty bucket:
    * `(bucket, n_judgments, lo_wins, obs_bp, avg_pred_bp, gap_bp)`. */
  def calibrationCurve(
      judgments: DataFrame,
      winnerCol: String,
      loserCol: String,
      strengths: DataFrame,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, "buckets in [2, 1000]")
    val j = judgments.select(
      col(winnerCol).cast("long").as("w"), col(loserCol).cast("long").as("l"))
    val s = strengths.select(col("item"), col("score"))
    val scored = j
      .select(least(col("w"), col("l")).as("lo"),
        greatest(col("w"), col("l")).as("hi"),
        when(col("w") < col("l"), lit(1L)).otherwise(lit(0L)).as("lo_win"))
      .join(broadcast(s.select(col("item").as("lo"), col("score").as("slo"))),
        Seq("lo"))
      .join(broadcast(s.select(col("item").as("hi"), col("score").as("shi"))),
        Seq("hi"))
      .select(col("lo_win"), expr(s"slo * ${Scale}L div (slo + shi)").as("ppm"))
    scored
      .groupBy(expr(s"ppm * ${buckets}L div ${Scale}L").as("bucket"))
      .agg(count(lit(1)).as("n_judgments"),
        sum(col("lo_win")).as("lo_wins"),
        sum(col("ppm")).as("sum_ppm"))
      .select(col("bucket"), col("n_judgments"), col("lo_wins"),
        expr("lo_wins * 10000L div n_judgments").as("obs_bp"),
        expr(s"sum_ppm * 10000L div (n_judgments * ${Scale}L)").as("avg_pred_bp"),
        expr(s"abs(lo_wins * 10000L div n_judgments - " +
          s"sum_ppm * 10000L div (n_judgments * ${Scale}L))").as("gap_bp"))
      .orderBy("bucket")
  }

  /** Per-annotator quality audit over judgment rows
    * `(annotator, first, second, winner)` — `first`/`second` are the
    * item ids as SHOWN (position matters for the bias read), `winner`
    * is one of them. Returns one row per annotator:
    *
    *   - `n_judgments`
    *   - `agree_cnt` / `agree_bp`: judgments matching the PAIR MAJORITY
    *     verdict (majority over the unordered pair across ALL annotators;
    *     tie → the smaller item id, a deterministic rule both engines
    *     replay), count and integer basis points (·10000 div n)
    *   - `first_wins` / `first_bp`: judgments where the first-position
    *     item won — an annotator far from 5000 bp is position-biased
    *
    * Plan: one shuffle to the unordered-pair grain for the majority
    * table (bounded by |items|²), broadcast it back onto the judgment
    * table, one shuffle to the annotator grain. No iteration.
    */
  def annotatorAudit(
      judgments: DataFrame,
      annotatorCol: String,
      firstCol: String,
      secondCol: String,
      winnerCol: String): DataFrame = {
    val j = judgments.select(
      col(annotatorCol).cast("long").as("annotator"),
      col(firstCol).cast("long").as("first"),
      col(secondCol).cast("long").as("second"),
      col(winnerCol).cast("long").as("winner"))
    val lo = least(col("first"), col("second"))
    val hi = greatest(col("first"), col("second"))
    val majority = j
      .select(lo.as("lo"), hi.as("hi"),
        when(col("winner") === lo, lit(1L)).otherwise(lit(0L)).as("lo_win"))
      .groupBy("lo", "hi")
      .agg(sum(col("lo_win")).as("lo_wins"), count(lit(1)).as("n"))
      // tie → smaller id: lo wins exactly when 2·lo_wins >= n
      .select(col("lo"), col("hi"),
        when(col("lo_wins") * 2 >= col("n"), col("lo")).otherwise(col("hi"))
          .as("majority"))
    j.select(col("annotator"), col("winner"), col("first"),
        lo.as("lo"), hi.as("hi"))
      .join(broadcast(majority), Seq("lo", "hi"))
      .groupBy("annotator")
      .agg(
        count(lit(1)).as("n_judgments"),
        sum(when(col("winner") === col("majority"), 1L).otherwise(0L))
          .as("agree_cnt"),
        sum(when(col("winner") === col("first"), 1L).otherwise(0L))
          .as("first_wins"))
      .select(col("annotator"), col("n_judgments"), col("agree_cnt"),
        expr("agree_cnt * 10000L div n_judgments").as("agree_bp"),
        col("first_wins"),
        expr("first_wins * 10000L div n_judgments").as("first_bp"))
  }
}
