package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.model.Stats

/** The staged pipeline as a predicate cascade: its job budget (one
  * statistics aggregate per evaluated stage, one bounded cutoff collect per
  * top-N filter, the scalable rank's collects past
  * `graft.rank.rangeThreshold`, and no persisted stage frame), and the
  * top-N cutoff's edge cases, with expectations hand-derived from the
  * reference rules (SURVEY.md §2.4 P4/P5): include advances
  * `rank(method='min') <= n`; exclude takes the n-th highest score as the
  * cutoff and advances `score > cutoff` when more than n scores sit at or
  * above it, else `score >= cutoff`, and advances everyone when the cohort
  * has at most n rows; NaN and null scores sort last and are unranked. */
class StagedCascadeSpec extends SparkSpec {

  import spark.implicits._

  /** SQL executions `body` launches, counted between two listener-bus
    * drains. */
  private def executions[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ => ()
      }
    }
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBridge.waitUntilEmpty(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Stage score = the raw value (one identity criterion, weight 1);
    * negative inputs score NaN, null inputs score null. */
  private val raw: (Column, Stats) => Column =
    (c, _) => when(c < 0, lit(Double.NaN)).otherwise(c)

  private def bids(xs: Option[Double]*): DataFrame =
    xs.zipWithIndex.map { case (x, i) => (s"B$i", x, 1.0) }.toDF("vendor", "x", "y")

  private def twoStage(n: Int, tie: String = "include"): StagedEvaluator =
    new StagedEvaluator()
      .addStage("S1", filterType = "top_n", topN = n, onTie = tie)
      .custom("x", 1.0, raw)
      .addStage("S2")
      .direct("y", 1.0)

  /** A lazy [[Checkpoints.localCheckpoint]] is two executions that launch
    * no job: the checkpoint itself and the `rdd` lookup that registers its
    * blocks. The first full pass over the frame materializes it. */
  private val Checkpoint = 2

  private val five = Seq(9.0, 7.0, 7.0, 5.0, 3.0).map(Some(_))

  // ---------------------------------------------------------- job ladder

  test("job ladder: threshold stages cost one aggregate each") {
    val se = new StagedEvaluator()
      .addStage("S1", filterType = "score_threshold", threshold = 4.0)
      .custom("x", 1.0, raw)
      .addStage("S2", filterType = "score_threshold", threshold = 0.5)
      .direct("y", 1.0)
      .addStage("S3")
      .direct("y", 1.0)
    val (res, n) = executions(se.evaluateResult(bids(five: _*)))
    assert(n == Checkpoint + 3)
    assert(res.df.filter(col("eliminated_at_stage").isNull).count() == 4)
  }

  test("job ladder: a top-N stage adds one cutoff collect, either tie mode") {
    for (tie <- Seq("include", "exclude")) {
      val (res, n) = executions(twoStage(2, tie).evaluateResult(bids(five: _*)))
      assert(n == Checkpoint + 2 + 1, s"on_tie=$tie")
      val survivors = res.df.filter(col("eliminated_at_stage").isNull)
        .select("vendor").as[String].collect().toSet
      assert(survivors == (if (tie == "include") Set("B0", "B1", "B2") else Set("B0")))
    }
    // a cohort of at most n needs no cutoff
    val (_, n) = executions(twoStage(5, "exclude").evaluateResult(bids(five: _*)))
    assert(n == Checkpoint + 2)
  }

  test("job ladder: an exhausted pipeline runs nothing after the empty cohort") {
    val se = new StagedEvaluator()
      .addStage("S1", filterType = "score_threshold", threshold = 99.0)
      .custom("x", 1.0, raw)
      .addStage("S2", filterType = "score_threshold", threshold = 1.0)
      .direct("y", 1.0)
      .addStage("S3")
      .direct("y", 1.0)
    // stage 1's aggregate, then stage 2's finds the cohort empty
    val (res, n) = executions(se.evaluateResult(bids(five: _*)))
    assert(n == Checkpoint + 2)
    assert(res.stageResults.map(_.name) == List("S1", "S2", "S3"))
    assert(res.statistics.keySet == Set("S1"))
    assert(res.stageResults.tail.forall(_.advancedIds.count() == 0))
    assert(rows(res.df).forall(_.getAs[String]("eliminated_at_stage") == "S1"))
  }

  test("job ladder: empty input costs the stage-1 aggregate only") {
    val (res, n) = executions(twoStage(2).evaluateResult(bids().limit(0)))
    assert(n == Checkpoint + 1)
    assert(res.stageResults.isEmpty && res.df.count() == 0)
    assert(res.df.schema("ranking").dataType.typeName == "long")
  }

  test("job ladder: past rangeThreshold the ranks add the scalable collects") {
    spark.conf.set("graft.rank.rangeThreshold", "1")
    try {
      val (res, n) = executions(twoStage(2).evaluateResult(bids(five: _*)))
      // the rank frame's lazy checkpoint and its partial-sum collect
      assert(n == Checkpoint + 2 + 1 + Checkpoint + 1)
      val ranks = res.df.select("vendor", "s1_ranking", "ranking").collect()
        .map(r => r.getString(0) -> (r.getLong(1), Option(r.get(2)))).toMap
      assert(ranks("B0")._1 == 1L && ranks("B1")._1 == 2L && ranks("B2")._1 == 2L &&
        ranks("B3")._1 == 4L && ranks("B4")._1 == 5L)
      assert(ranks("B3")._2.isEmpty && ranks.values.count(_._2.contains(1L)) == 3)
      res.unpersist()
    } finally spark.conf.unset("graft.rank.rangeThreshold")
  }

  test("evaluateResult persists no stage frame; unpersist releases everything") {
    Checkpoints.freeAll(spark)
    val before = persistedIds
    val se = new StagedEvaluator()
      .addStage("S1", filterType = "score_threshold", threshold = 4.0)
      .custom("x", 1.0, raw)
      .addStage("S2", filterType = "top_n", topN = 2)
      .direct("y", 1.0)
      .addStage("S3")
      .direct("y", 1.0)
    val res = se.evaluateResult(bids(five: _*))
    res.df.collect()
    res.stageResults.foreach(s => s.advancedIds.count())
    // the base checkpoint is the only block set the pipeline holds
    assert((persistedIds -- before).size == 1)
    res.unpersist()
    assert((persistedIds -- before).isEmpty)
  }

  // ---------------------------------------------------- cutoff edge cases

  /** Survivors, stage-1 advanced and eliminated counts, rows by vendor. */
  private def run(se: StagedEvaluator,
      in: DataFrame): (Set[String], Long, Long, Map[String, Row]) = {
    val res = se.evaluateResult(in)
    val survivors = res.df.filter(col("eliminated_at_stage").isNull)
      .select("vendor").as[String].collect().toSet
    val s1 = res.stageResults.head
    (survivors, s1.advancedIds.count(), s1.eliminatedIds.count(), byKey(res.df, "vendor")
      .map { case (k, r) => k.toString -> r })
  }

  test("cutoff: -0.0 and 0.0 tie at the cutoff") {
    // scores 5, 0.0, -0.0, 1e-300 -> sorted 5, 1e-300, 0.0, -0.0; n = 3:
    // the 3rd score is 0.0 and -0.0 == 0.0, so both share rank 3
    val in = Seq(("A", 5.0), ("B", 0.0), ("C", -0.0), ("D", 1e-300))
      .toDF("vendor", "x").withColumn("y", lit(1.0))
    val ident: (Column, Stats) => Column = (c, _) => c
    def se(tie: String) = new StagedEvaluator()
      .addStage("S1", filterType = "top_n", topN = 3, onTie = tie)
      .custom("x", 1.0, ident)
      .addStage("S2")
      .direct("y", 1.0)
    // include: ranks 1, 3, 3, 2 -> all four have rank <= 3
    val (inc, incAdv, incElim, m) = run(se("include"), in)
    assert(inc == Set("A", "B", "C", "D") && incAdv == 4 && incElim == 0)
    assert(m("B").getAs[Long]("s1_ranking") == 3L && m("C").getAs[Long]("s1_ranking") == 3L)
    // exclude: 4 scores >= the cutoff 0.0 > n = 3 -> only scores > 0 advance
    val (exc, excAdv, excElim, _) = run(se("exclude"), in)
    assert(exc == Set("A", "D") && excAdv == 2 && excElim == 2)
  }

  test("cutoff: ties straddling the n-th score, both tie modes, n at the boundary") {
    val in = bids(five: _*) // scores 9, 7, 7, 5, 3
    val tied = bids(Seq(9.0, 7.0, 7.0, 7.0, 3.0).map(Some(_)): _*)
    // n = 2: the 7s share rank 2 -> include advances 9, 7, 7
    assert(run(twoStage(2), in)._1 == Set("B0", "B1", "B2"))
    // exclude: 3 scores >= 7 > 2 -> only 9 advances
    val (exc2, a2, e2, _) = run(twoStage(2, "exclude"), in)
    assert(exc2 == Set("B0") && a2 == 1 && e2 == 4)
    // n = 3 inside a tie run of three 7s (ranks 2-4)
    val (inc3, ia3, ie3, _) = run(twoStage(3), tied)
    assert(inc3 == Set("B0", "B1", "B2", "B3") && ia3 == 4 && ie3 == 1)
    val (exc3, ea3, ee3, _) = run(twoStage(3, "exclude"), tied)
    assert(exc3 == Set("B0") && ea3 == 1 && ee3 == 4)
    // n = 4 at the end of the tie run: the 5th score (3) does not tie the
    // cutoff, so exclude also keeps exactly the top 4
    for (tie <- Seq("include", "exclude")) {
      val (s, a, e, _) = run(twoStage(4, tie), tied)
      assert(s == Set("B0", "B1", "B2", "B3") && a == 4 && e == 1, s"on_tie=$tie")
    }
    // n = 5 = the cohort: everyone advances in both modes
    for (tie <- Seq("include", "exclude")) {
      val (s, a, e, _) = run(twoStage(5, tie), tied)
      assert(s.size == 5 && a == 5 && e == 0, s"on_tie=$tie")
    }
  }

  test("cutoff: include with fewer than n real scores advances every real score") {
    // cohort 4 > n = 3 but only 2 real scores: both rank within 3; the NaN
    // and null scores are unranked and eliminated
    val (s, a, e, m) = run(twoStage(3), bids(Some(5.0), Some(3.0), Some(-1.0), None))
    assert(s == Set("B0", "B1") && a == 2 && e == 2)
    assert(m("B2").getAs[String]("eliminated_at_stage") == "S1")
    assert(m("B3").getAs[String]("eliminated_at_stage") == "S1")
    // cohort within n: still only the real score advances
    val (s2, a2, e2, _) = run(twoStage(3), bids(Some(5.0), Some(-1.0)))
    assert(s2 == Set("B0") && a2 == 1 && e2 == 1)
  }

  test("cutoff: exclude with a cohort of at most n advances everyone, NaN and null too") {
    val (s, a, e, m) = run(twoStage(3, "exclude"),
      bids(Some(5.0), Some(-1.0), None))
    assert(s == Set("B0", "B1", "B2") && a == 3 && e == 0)
    // every row reaches stage 2 and is ranked there
    assert(m.values.forall(r => !r.isNullAt(r.fieldIndex("s2_score"))))
  }

  test("threshold: NaN and null scores are neither advanced nor eliminated") {
    // numpy: NaN >= t and NaN < t are both False, so the row stays active
    val se = new StagedEvaluator()
      .addStage("S1", filterType = "score_threshold", threshold = 4.0)
      .custom("x", 1.0, raw)
      .addStage("S2")
      .direct("y", 1.0)
    val (s, a, e, _) = run(se, bids(Some(9.0), Some(3.0), Some(-1.0), None))
    assert(s == Set("B0", "B2", "B3") && a == 1 && e == 1)
  }
}
