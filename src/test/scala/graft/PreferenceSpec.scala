package graft

import org.apache.spark.sql.functions._
import graft.operators.Preference

/** Preference-data curation: Bradley–Terry fixed-point strengths and the
  * annotator agreement/position-bias audit (q250/q251). */
class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  test("bradley-terry: hand-checkable two-item recurrence") {
    // 3 wins for item 1 over item 0, 1 win for item 0: W0=1, W1=3, n01=4.
    val pairs = Seq((1L, 0L), (1L, 0L), (1L, 0L), (0L, 1L))
      .toDF("winner", "loser")
    val got = Preference
      .bradleyTerryFixedPoint(pairs, "winner", "loser", iterations = 5)
      .orderBy("item")
      .as[(Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(0L, 1L))
    assert(got.map(_._2).toSeq == Seq(1L, 3L), "wins column is the raw count")
    val Seq(s0, s1) = got.map(_._3).toSeq
    // MM fixed point of (W0=1, W1=3) is s1/s0 = 3 under mean-normalization:
    // s = (0.5, 1.5) in real arithmetic. Fixed point at SCALE=1e6 lands
    // within floor-division slack of (500000, 1500000).
    assert(s1 > s0, "3-of-4 winner must rank above")
    assert(math.abs(s0 - 500000L) <= 5 && math.abs(s1 - 1500000L) <= 5,
      s"expected ~(500000, 1500000), got ($s0, $s1)")
    // renormalization contract: mean strength == SCALE (up to floor slack)
    assert(math.abs((s0 + s1) - 2000000L) <= 5)
  }

  test("bradley-terry: recovers the latent ordering it was generated from") {
    // judgments drawn from the exact q250 generative law over 10 items
    // with latent strength item+1: every md5-keyed draw is deterministic,
    // and with 4000 judgments the fitted ordering must put the strongest
    // and weakest items on the right ends (full rank agreement is a
    // sample-size question, the ends are not).
    val k = 10L
    val rows = (0L until 4000L).map { e =>
      def h(tag: String) =
        graft.functions.PortableHash.md5Hash60Local(s"$e$tag")
      val a = h(":a") % k
      val b0 = h(":b") % (k - 1)
      val b = if (b0 >= a) b0 + 1 else b0
      val winA = h(":w") % (a + b + 2) < a + 1
      if (winA) (a, b) else (b, a)
    }
    val got = Preference
      .bradleyTerryFixedPoint(rows.toDF("winner", "loser"), "winner", "loser")
      .orderBy(col("score").desc, col("item"))
      .as[(Long, Long, Long)].collect()
    assert(got.length == 10)
    assert(got.head._1 == k - 1, s"strongest latent item should fit first: $got")
    assert(got.last._1 == 0L, s"weakest latent item should fit last: $got")
    // monotone in the large: top half of fitted ranks averages a higher
    // latent strength than the bottom half
    val (top, bot) = got.map(_._1).splitAt(5)
    assert(top.sum > bot.sum)
  }

  test("bradley-terry: zero-win items floor at 1, never a zero denominator") {
    // item 2 loses everything; its score floors at >= 1 and the other
    // scores stay finite across iterations (no division by a zeroed sum)
    val pairs = Seq((0L, 2L), (1L, 2L), (0L, 1L), (1L, 0L))
      .toDF("winner", "loser")
    val got = Preference
      .bradleyTerryFixedPoint(pairs, "winner", "loser", iterations = 7)
      .orderBy("item").as[(Long, Long, Long)].collect()
    assert(got.map(_._3).forall(_ >= 1L))
    assert(got(2)._2 == 0L && got(2)._3 < got(0)._3 && got(2)._3 < got(1)._3)
  }

  test("annotator audit: majority, tie rule, and position counts") {
    // pair (1,2): annotator 10 says 1 twice, annotator 20 says 2 once →
    // majority 1. pair (3,4): one vote each way → tie → smaller id 3.
    val j = Seq(
      (10L, 1L, 2L, 1L), (10L, 2L, 1L, 1L), (20L, 1L, 2L, 2L),
      (10L, 3L, 4L, 3L), (20L, 4L, 3L, 4L))
      .toDF("annotator", "first", "second", "winner")
    val got = Preference
      .annotatorAudit(j, "annotator", "first", "second", "winner")
      .orderBy("annotator")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // annotator 10: 3 judgments, agrees on (1,2)x2 and the (3,4) tie → 3;
    // first-position wins: rows 1 and 4 (winner==first) → 2
    assert(got(0) == ((10L, 3L, 3L, 10000L, 2L, 6666L)))
    // annotator 20: 2 judgments, agrees on neither (said 2 vs majority 1,
    // said 4 vs tie-majority 3); first-position wins: row 5 (4 shown
    // first, 4 won) → 1
    assert(got(1) == ((20L, 2L, 0L, 0L, 1L, 5000L)))
  }

  test("calibration curve: hand-checkable bucket algebra") {
    // fixed strengths (no fit): item 0 at 0.75, item 1 at 0.25 → every
    // (0,1) judgment predicts lo-win ppm 750000 → bucket 7; feed 3 wins
    // for 0 and 1 for 1 → observed 7500 bp, perfectly calibrated
    val strengths = Seq((0L, 750000L), (1L, 250000L)).toDF("item", "score")
    val j = Seq((0L, 1L), (0L, 1L), (0L, 1L), (1L, 0L)).toDF("winner", "loser")
    val got = Preference.calibrationCurve(j, "winner", "loser", strengths)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((7L, 4L, 3L, 7500L, 7500L, 0L)))
  }

  test("calibration curve: the BT-law corpus tracks the diagonal") {
    // fit + score the same md5-law corpus the recovery test uses: the
    // generating law IS the fitted model family, so the reliability
    // curve must hug the diagonal — judgment-weighted mean |gap| small,
    // and every bucket's predicted mean inside its own bin edges
    val k = 10L
    val rows = (0L until 4000L).map { e =>
      def h(tag: String) =
        graft.functions.PortableHash.md5Hash60Local(s"$e$tag")
      val a = h(":a") % k
      val b0 = h(":b") % (k - 1)
      val b = if (b0 >= a) b0 + 1 else b0
      if (h(":w") % (a + b + 2) < a + 1) (a, b) else (b, a)
    }
    val j = rows.toDF("winner", "loser")
    val fit = Preference.bradleyTerryFixedPoint(j, "winner", "loser")
    val got = Preference
      .calibrationCurve(j, "winner", "loser", fit.select("item", "score"))
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty && got.forall(r => r._1 >= 0 && r._1 <= 9))
    got.foreach { case (bucket, _, _, obs, pred, gap) =>
      assert(pred >= bucket * 1000 && pred < (bucket + 1) * 1000,
        s"bucket $bucket mean prediction $pred outside its bin")
      assert(gap == math.abs(obs - pred))
    }
    val n = got.map(_._2).sum
    val wgap = got.map(r => r._6 * r._2).sum / n
    assert(wgap <= 700, s"judgment-weighted mean |gap| $wgap bp off-diagonal")
  }

  test("group advantage: hand-checkable stats and sign-magnitude algebra") {
    // group 0: rewards (10, 20, 30) → mean 20, var 200/3 = 66⅔,
    // std = 8.164965…, std_milli = isqrt(66666666) = 8164.
    val r = Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 0L, 30L))
      .toDF("id", "grp", "reward")
    val got = Preference.groupAdvantage(r, "grp", "id", "reward")
      .orderBy("id")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._4).forall(_ == 3L))
    assert(got.map(_._5).forall(_ == 20000000L), "mean_fp = 60e6 div 3")
    // var_num = 3·1400 − 60² = 600; x = 600e6 div 9 = 66666666;
    // isqrt → 8164 (8164² = 66650896 ≤ x < 8165²)
    assert(got.map(_._6).forall(_ == 8164L), s"std_milli: ${got.toSeq}")
    // adv = (r·n − Σr)·1e9 div (n·std_milli): r=10 → −30·1e9 div 24492
    val advs = got.map(_._7)
    assert(advs(0) == -(30L * 1000000000L / (3L * 8164L)))
    assert(advs(1) == 0L)
    assert(advs(2) == 30L * 1000000000L / (3L * 8164L))
    assert(advs(0) == -advs(2), "symmetric rewards → antisymmetric advantage")
  }

  test("group advantage: constant group has std 0 and zero advantages") {
    val r = Seq((1L, 5L, 42L), (2L, 5L, 42L)).toDF("id", "grp", "reward")
    val got = Preference.groupAdvantage(r, "grp", "id", "reward")
      .orderBy("id").as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.forall(g => g._6 == 0L && g._7 == 0L))
    assert(got.forall(_._5 == 42000000L))
  }

  test("group advantage: negative rewards keep floor-division parity") {
    // group of (-10, 10): mean 0, var 100, std_milli = 10000,
    // adv = ±(20·1e9 div 20000) = ±1000000 — and the NEGATIVE branch
    // must divide the magnitude (floor toward zero), not floor-divide
    // the signed numerator
    val r = Seq((1L, 0L, -10L), (2L, 0L, 10L)).toDF("id", "grp", "reward")
    val got = Preference.groupAdvantage(r, "grp", "id", "reward")
      .orderBy("id").as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(_._6).forall(_ == 10000L))
    assert(got.map(_._7).toSeq == Seq(-1000000L, 1000000L))
  }

  test("group advantage: overflow envelope is loud") {
    val r = Seq((1L, 0L, 4000000L), (2L, 0L, 1L)).toDF("id", "grp", "reward")
    val e = intercept[IllegalArgumentException] {
      Preference.groupAdvantage(r, "grp", "id", "reward").collect()
    }
    assert(e.getMessage.contains("envelope"))
  }

  test("q254 builder: advantages strip the group base and sum to ~0") {
    val adv = SparkEntry.queries("q254_grpo_advantage")(
      spark, "/root/testdata/sf0.001").collect()
    assert(adv.nonEmpty)
    // per-group advantage sums stay within floor-division slack of 0
    val byGrp = adv.groupBy(_.getLong(1))
    byGrp.values.foreach { rows =>
      val s = rows.map(_.getLong(6)).sum
      assert(math.abs(s) <= rows.length.toLong,
        s"group advantage sum $s exceeds floor slack for n=${rows.length}")
    }
    // the (grp mod 7)·200 base term is invisible in advantages: the
    // advantage spread is driven by the md5 noise, not the base — check
    // means of groups in different base classes stay comparable
    val cls = byGrp.toSeq.groupBy(_._1 % 7).map { case (k, gs) =>
      k -> gs.flatMap(_._2.map(_.getLong(6))).map(_.abs).sum /
        math.max(gs.map(_._2.length).sum, 1)
    }
    val vals = cls.values.toSeq
    assert(vals.max < vals.min * 2,
      s"per-class mean |adv| should be base-invariant: $cls")
  }

  test("bradley-terry: 5 rounds over 20 items start at most 39 jobs") {
    val pairs = (0L until 3000L).map { e =>
      val a = e % 20
      val b = (e * 7 + 3) % 20 match { case `a` => (a + 1) % 20; case x => x }
      if (e * 31 % (a + b + 2) < a + 1) (a, b) else (b, a)
    }.toDF("winner", "loser")
    val (got, jobs) = jobsStarted(
      Preference.bradleyTerryFixedPoint(pairs, "winner", "loser").collect())
    assert(got.length == 20)
    // 37 in every run; with an adaptive eager cut every 3rd round, 43–44
    assert(jobs <= 39, s"$jobs jobs")
  }

  test("q250/q251 builders run at sf0.001 with exact integer outputs") {
    val bt = SparkEntry.queries("q250_bradley_terry")(
      spark, "/root/testdata/sf0.001").collect()
    assert(bt.nonEmpty && bt.length <= 50)
    val ranks = bt.map(_.getLong(3))
    assert(ranks.toSeq == (1L to bt.length).toSeq, "dense contiguous ranks")
    val audit = SparkEntry.queries("q251_annotator_audit")(
      spark, "/root/testdata/sf0.001").collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      val (n, agree, abp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(agree <= n && abp == agree * 10000L / n)
    }
  }
}
