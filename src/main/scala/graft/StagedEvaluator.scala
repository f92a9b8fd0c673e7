package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._

/** One evaluation stage: a name, its own single-stage [[Evaluator]], an
  * optional inter-stage filter, and a weight for weighted-combination mode
  * (`/root/reference/bid_evaluation/staged.py:40-47`). */
final case class StageDefinition(
    name: String,
    evaluator: Evaluator,
    filter: Option[StageFilter] = None,
    weight: Double = 1.0
)

/** Per-stage outcome (`/root/reference/bid_evaluation/staged.py:50-57`).
  * The reference stores `pd.Index` objects; the Spark analogue keeps lazy
  * id frames (single `__bid_id` column) so nothing materializes until asked.
  */
final case class StageResult(
    name: String,
    resultDf: DataFrame,
    advancedIds: DataFrame,
    eliminatedIds: DataFrame
)

/** Staged evaluation result (SURVEY.md §7.3 immutability deviation): the
  * final frame, per-stage results, and per-stage statistics keyed
  * `stageName -> criterionName -> Stats`. Call [[unpersist]] when done to
  * release the checkpoints taken during evaluation. */
final case class StagedResult(
    df: DataFrame,
    stageResults: List[StageResult],
    statistics: Map[String, Map[String, Stats]],
    private[graft] val checkpoints: Seq[DataFrame] = Nil
) {
  def unpersist(): Unit = checkpoints.foreach(graft.Checkpoints.free)
}

/** One evaluated stage of the cascade: its hidden-column index `k`, the
  * cohort mask, the filter's (advanced, eliminated) predicates, and the
  * cohort's statistics (keyed by column) and size. */
private[graft] final case class StageLayer(k: Int, stage: StageDefinition, alive: Column,
    adv: Column, elim: Column, stats: Map[String, Stats], count: Long)

/** A cascade frame (input plus hidden columns), its evaluated stages, and
  * the last elimination-marker column, if any stage filtered. */
private[graft] final case class Cascade(df: DataFrame, layers: Seq[StageLayer],
    marker: Option[String])

/** Multi-stage pipeline with inter-stage elimination — the Spark-native
  * counterpart of the reference `StagedEvaluator`
  * (`/root/reference/bid_evaluation/staged.py`).
  *
  * Each row gets a stable `__bid_id` (`monotonically_increasing_id`) once
  * at entry — the pandas index analogue — and the input is checkpointed.
  * Once a stage's statistics are on the driver its scores are row-local
  * arithmetic on the input columns, so the pipeline compiles to a
  * predicate cascade: per stage, hidden columns layered over the
  * checkpoint hold each criterion score, the stage score and the
  * elimination marker, all null for rows an earlier stage eliminated.
  * Stage k's cohort — and therefore all its statistics — is the rows whose
  * marker is still null, exactly the reference's active mask
  * (`staged.py:292`). A threshold filter is `score < t`; a top-N filter is
  * a comparison against the n-th highest real score.
  *
  * Job budget: one [[StatsAgg]] aggregate per stage (statistics plus the
  * cohort count, which also detects an empty input), plus one bounded
  * `limit(n+1)` collect per top-N filter whose cohort exceeds n, plus the
  * scalable rank's collect past `graft.rank.rangeThreshold`. That is the
  * sequential minimum: stage k's statistics depend on stage k-1's filter.
  * Once every bid is eliminated, later stages run nothing. Nothing is
  * cached per stage: every stage ranking and the final ranking come from
  * one distinct (population, score) rank frame joined back by broadcast,
  * and the result is one projection and one sort.
  */
object StagedEvaluator {
  /** Factory front ends (P13, `staged.py:86-159`). */
  def fromConfig(config: Map[String, Any]): StagedEvaluator =
    graft.config.ConfigLoader.stagedFromConfig(config)
  def fromYaml(path: String): StagedEvaluator =
    graft.config.ConfigLoader.stagedFromYaml(path)
  def fromJson(path: String): StagedEvaluator =
    graft.config.ConfigLoader.stagedFromJson(path)
}

class StagedEvaluator(val finalScoreMode: FinalScoreMode = FinalScoreMode.LastStage) {

  def this(mode: String) = this(FinalScoreMode.fromString(mode))

  private val stages = mutable.ArrayBuffer.empty[StageDefinition]
  private var lastResult: Option[StagedResult] = None

  /** Stable row-identity column, the analogue of the pandas index. */
  val BidId = "__bid_id"

  def stageDefinitions: Seq[StageDefinition] = stages.toSeq

  // === Fluent interface (staged.py:163-267) ===

  def addStage(
      name: String,
      filterType: String = null,
      threshold: java.lang.Double = null,
      topN: java.lang.Integer = null,
      onTie: String = "include",
      weight: Double = 1.0
  ): this.type = {
    val filter = Option(filterType).map { ft =>
      StageFilter(ft,
        Option(threshold).map(_.doubleValue()),
        Option(topN).map(_.intValue()), onTie)
    }
    stages += StageDefinition(name, new Evaluator(), filter, weight)
    this
  }

  def addStage(name: String, filter: Option[StageFilter], weight: Double): this.type = {
    stages += StageDefinition(name, new Evaluator(), filter, weight)
    this
  }

  private def currentEvaluator: Evaluator = {
    if (stages.isEmpty)
      throw new IllegalStateException("No stages defined. Call add_stage() first.")
    stages.last.evaluator
  }

  def linear(column: String, weight: Double, name: String = null,
             higherIsBetter: Boolean = true): this.type = {
    currentEvaluator.linear(column, weight, name, higherIsBetter); this
  }

  def threshold(column: String, weight: Double,
                thresholds: Seq[(Double, Double, Double)],
                name: String = null): this.type = {
    currentEvaluator.threshold(column, weight, thresholds, name); this
  }

  def direct(column: String, weight: Double, name: String = null,
             inputScale: Double = 100.0): this.type = {
    currentEvaluator.direct(column, weight, name, inputScale); this
  }

  def minRatio(column: String, weight: Double, name: String = null): this.type = {
    currentEvaluator.minRatio(column, weight, name); this
  }

  def formula(column: String, weight: Double, formula: String = "value",
              variables: Map[String, Double] = Map.empty,
              name: String = null): this.type = {
    currentEvaluator.formula(column, weight, formula, variables, name); this
  }

  def custom(column: String, weight: Double,
             fn: (Column, Stats) => Column): this.type = {
    currentEvaluator.custom(column, weight, fn); this
  }

  def custom(column: String, weight: Double, builtin: String): this.type = {
    currentEvaluator.custom(column, weight, builtin); this
  }

  /** Stage-name -> column-prefix sanitizer (`staged.py:455-457`). */
  def safeName(name: String): String =
    name.toLowerCase.replace(" ", "_").replace("-", "_")

  // === Evaluation (staged.py:271-375) ===

  def evaluate(bids: DataFrame, includeDetails: Boolean = true): DataFrame =
    evaluateResult(bids, includeDetails).df

  def evaluateResult(
      bids: DataFrame,
      includeDetails: Boolean = true
  ): StagedResult = {
    if (stages.isEmpty)
      throw new IllegalStateException("No stages defined. Add stages before evaluating.")

    // Lazy checkpoint, not persist: BidId is monotonically_increasing_id,
    // which is NONDETERMINISTIC across recomputes — truncated lineage makes
    // a divergent re-assignment impossible. Stage 1's statistics aggregate
    // is a full pass over base, so the id assignment freezes inside that
    // first job. Blocks release via StagedResult.unpersist() or the host's
    // Checkpoints.freeAll barrier.
    val base = Checkpoints.localCheckpoint(
      bids.withColumn(BidId, monotonically_increasing_id()), eager = false)
    val c = cascade(base) { (stage, cohort) =>
      StatsAgg.computeWithCount(cohort, stage.evaluator.criteria.map(_._1))
    }

    // P12: the stage-1 aggregate counted no rows (staged.py:459-465).
    if (c.layers.isEmpty) {
      val empty = base.drop(BidId)
        .withColumn("eliminated_at_stage", lit(null).cast("string"))
        .withColumn("final_score", lit(null).cast("double"))
        .withColumn("ranking", lit(null).cast("long"))
      return StagedResult(empty, Nil, Map.empty, Seq(base))
    }

    val inputCols = bids.columns.toSeq
    val out = outputColumns(inputCols, c, includeDetails, ranked = true)
    val scored = c.df.withColumn(Hidden.Final, out("final_score"))
    out("final_score") = col(Hidden.Final)
    // P9: final ranking over survivors only (staged.py:357-365), ranked
    // together with every stage's own ranking
    val survivor = c.marker.fold(lit(true))(m => col(m).isNull)
    val rangeThreshold = bids.sparkSession.conf
      .get("graft.rank.rangeThreshold", "2000000").toLong
    val (ranked, rankCheckpoints) = Ranks.withCompetitionRanks(scored,
      c.layers.map(l => col(Hidden.score(l.k)) -> Hidden.rank(l.k)) :+
        (when(survivor, col(Hidden.Final)) -> Hidden.FinalRank),
      scalable = c.layers.head.count > rangeThreshold)

    // P10: final sort (staged.py:367-372). nanvl maps NaN final scores to
    // null so they sort LAST like pandas na_position='last'.
    val sorted = ranked
      .select(out.toSeq.map { case (n, e) => e.as(n) }: _*)
      .orderBy(col("ranking").asc_nulls_last,
        nanvl(col("final_score"), lit(null).cast("double")).desc_nulls_last)

    val logger = org.slf4j.LoggerFactory.getLogger(getClass)
    val skipped = stages.drop(c.layers.size).map { stage =>
      // P6: all eliminated — warn, record an empty stage (staged.py:301-314)
      logger.warn(s"All bids were eliminated before stage '${stage.name}'. " +
        "Skipping this and subsequent stages.")
      val none = base.limit(0)
      StageResult(stage.name, none, none.select(col(BidId)), none.select(col(BidId)))
    }
    val stageResults = c.layers.map { l =>
      val crits = l.stage.evaluator.criteria
      val details = if (includeDetails) crits.indices.map { j =>
        s"score_${crits(j)._2.name}" -> col(Hidden.detail(l.k, j)) } else Nil
      val cols = assign(mutable.LinkedHashMap(base.columns.toSeq
        .filterNot(details.map(_._1).contains).map(n => n -> ref(n)): _*),
        details :+ ("final_score" -> col(Hidden.score(l.k))))
      cols.remove("ranking")
      cols("ranking") = col(Hidden.rank(l.k))
      StageResult(l.stage.name,
        ranked.filter(l.alive).select(cols.toSeq.map { case (n, e) => e.as(n) }: _*),
        c.df.filter(l.alive && l.adv).select(col(BidId)),
        c.df.filter(l.alive && l.elim).select(col(BidId)))
    }
    val statistics = c.layers.map { l =>
      l.stage.name -> l.stage.evaluator.criteria.map { case (column, cr) =>
        cr.name -> l.stats(column) }.toMap
    }.toMap

    val res = StagedResult(sorted, (stageResults ++ skipped).toList, statistics,
      checkpoints = base +: rankCheckpoints)
    lastResult = Some(res)
    res
  }

  /** The stage cascade over `input` — shared by the batch engine and the
    * streaming scorer. Per stage, `statsOf(stage, cohort)` returns the
    * stage's statistics keyed by column and the cohort size; the stage
    * then layers hidden columns over the frame: one masked score per
    * criterion, the stage score, and (for a filtering stage) the
    * elimination marker. Every one is null for rows an earlier stage
    * eliminated, and each stage reads the previous one only through the
    * marker's column name. The cascade stops at the first empty cohort. */
  private[graft] def cascade(input: DataFrame)(
      statsOf: (StageDefinition, DataFrame) => (Map[String, Stats], Long)
  ): Cascade = {
    var df = input
    var marker: Option[String] = None
    val layers = mutable.ArrayBuffer.empty[StageLayer]
    val last = stages.size - 1
    var k = 0
    while (k <= last && layers.size == k) {
      val stage = stages(k)
      val alive = marker.fold(lit(true))(m => col(m).isNull)
      val (stats, n) = statsOf(stage, marker.fold(df)(m => df.filter(col(m).isNull)))
      if (n > 0) {
        val ev = stage.evaluator
        val details = ev.criteria.zipWithIndex.map { case ((column, cr), j) =>
          Hidden.detail(k, j) -> when(alive, cr.expr(col(column).cast("double"), stats(column)))
        }
        val combined = Evaluator.combinedFinalScore(
          details.map { case (h, _) => h -> col(h) }, ev.normalizeWeights, ev.getTotalWeight)
        df = df.select(col("*") +: details.map { case (h, e) => e.as(h) }: _*)
          .withColumn(Hidden.score(k), when(alive, combined))

        // P3-P5: inter-stage filter (never on the last stage, staged.py:336).
        // A null elimination outcome is "neither advanced nor eliminated":
        // pandas NaN-score rows fall through the threshold masks and stay
        // active (staged.py:383-385,339-340).
        val score = col(Hidden.score(k))
        val filter = if (k == last) None else stage.filter
        val (adv, elim) = filter match {
          // !isnan: Spark evaluates NaN >= t as TRUE, numpy as False
          case Some(StageFilter.ScoreThreshold(t)) =>
            (score >= lit(t) && !isnan(score), score < lit(t))
          case Some(StageFilter.TopN(topN, tie)) => topNPredicates(df, score, topN, tie, n)
          case None => (lit(true), lit(false))
        }
        if (filter.isDefined) {
          val m = Hidden.marker(k)
          df = df.withColumn(m, coalesce(marker.map(col).toSeq :+
            when(coalesce(elim, lit(false)), lit(stage.name)): _*))
          marker = Some(m)
        }
        layers += StageLayer(k, stage, alive, adv, elim, stats, n)
      }
      k += 1
    }
    Cascade(df, layers.toSeq, marker)
  }

  /** P4/P5 top-N predicates (advanced, eliminated) over the stage score.
    * Only the n-th and (n+1)-th highest REAL scores matter, so one bounded
    * `limit(n+1)` collect replaces a ranking: include advances
    * `score >= n-th`, which is exactly `rank <= n` (staged.py:389-393);
    * exclude advances strictly above the n-th score when the (n+1)-th ties
    * it (staged.py:394-409). pandas sorts NaN last (Spark would sort it
    * first), so the cutoff counts real scores only; null and NaN rows are
    * never advanced — except under exclude with a cohort of at most n,
    * where everyone advances. */
  private def topNPredicates(df: DataFrame, score: Column, n: Int, tie: TieMode,
      cohort: Long): (Column, Column) = {
    if (tie == TieMode.Exclude && cohort <= n) return (lit(true), lit(false))
    val real = score.isNotNull && !isnan(score)
    val top =
      if (n <= 0 || cohort <= n) Array.empty[Double]
      else df.filter(real).select(score).orderBy(score.desc).limit(n + 1)
        .collect().map(_.getDouble(0))
    val pred =
      if (n <= 0) lit(false)
      // fewer than n real scores: include ranks every one within n; for
      // exclude the n-th sorted score is NaN and `scores >= NaN` advances
      // nobody
      else if (top.length < n) { if (tie == TieMode.Include) real else lit(false) }
      else {
        val cut = top(n - 1)
        // == on doubles: a -0.0/0.0 pair ties, as in Spark's comparison
        val spans = tie == TieMode.Exclude && top.length > n && top(n) == cut
        // !isnan: Spark evaluates NaN >= x as TRUE, numpy as False
        (if (spans) score > lit(cut) else score >= lit(cut)) && !isnan(score)
      }
    (pred, coalesce(!pred, lit(true)))
  }

  /** The visible columns over a cascade frame, in output order: the input
    * columns, `eliminated_at_stage`, each evaluated stage's columns, then
    * `final_score` and, when `ranked`, `ranking` (the callers add the
    * hidden rank columns). A stage's columns are renamed with its prefix
    * (staged.py:322-333): `score_X` -> `{safe}_X` (input `score_*` columns
    * included, like the reference's merge loop), stage score ->
    * `{safe}_score`, stage rank -> `{safe}_ranking`. Colliding names keep
    * the last writer; a later stage's columns replace earlier ones and
    * move to its position. */
  private[graft] def outputColumns(inputCols: Seq[String], c: Cascade,
      includeDetails: Boolean, ranked: Boolean): mutable.LinkedHashMap[String, Column] = {
    val out = assign(mutable.LinkedHashMap(inputCols.map(n => n -> ref(n)): _*),
      Seq("eliminated_at_stage" -> c.marker.fold(lit(null).cast("string"))(col)))
    c.layers.foreach { l =>
      val safe = safeName(l.stage.name)
      val crits = l.stage.evaluator.criteria
      val shown = includeDetails && crits.nonEmpty
      val detailNames = crits.map(cr => s"score_${cr._2.name}")
      val inputScores = inputCols
        .filter(n => n.startsWith("score_") && !(shown && detailNames.contains(n)))
        .map(n => n.stripPrefix("score_") -> when(l.alive, ref(n)))
      val details = if (shown) crits.indices.map(j => crits(j)._2.name -> col(Hidden.detail(l.k, j)))
        else Nil
      val pairs = (inputScores ++ details).map { case (n, e) => s"${safe}_$n" -> e } ++
        Seq(s"${safe}_score" -> col(Hidden.score(l.k))) ++
        (if (ranked) Seq(s"${safe}_ranking" -> col(Hidden.rank(l.k))) else Nil)
      assign(mutable.LinkedHashMap.empty[String, Column], pairs).foreach { case (n, e) =>
        out.remove(n)
        out(n) = e
      }
    }
    // P7/P8: final score (staged.py:415-453)
    val finalScore: Column = finalScoreMode match {
      case FinalScoreMode.LastStage =>
        out.getOrElse(s"${safeName(stages.last.name)}_score", lit(null).cast("double"))
      case FinalScoreMode.WeightedCombination =>
        val totalWeight = stages.map(_.weight).sum
        val present = stages.toSeq.flatMap(s => out.get(s"${safeName(s.name)}_score").map(s -> _))
        if (totalWeight == 0 || present.isEmpty) lit(Double.NaN)
        else present.foldLeft(lit(0.0): Column) { case (acc, (s, sc)) =>
          // pandas fillna(0) covers both missing (null) and NaN.
          acc + coalesce(nanvl(sc, lit(0.0)), lit(0.0)) * lit(s.weight / totalWeight)
        }
    }
    assign(out, Seq("final_score" -> finalScore) ++
      (if (ranked) Seq("ranking" -> col(Hidden.FinalRank)) else Nil))
  }

  /** pandas sequential column assignment: an existing name keeps its
    * position and takes the new value, a new name appends. */
  private def assign(m: mutable.LinkedHashMap[String, Column],
      pairs: Seq[(String, Column)]): mutable.LinkedHashMap[String, Column] = {
    pairs.foreach { case (n, e) => m(n) = e }
    m
  }

  /** A column reference that never parses dots or backticks in `name`. */
  private def ref(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Hidden cascade column names. */
  private object Hidden {
    def detail(k: Int, j: Int): String = s"__graft_s${k}_$j"
    def score(k: Int): String = s"__graft_s$k"
    def marker(k: Int): String = s"__graft_e$k"
    def rank(k: Int): String = s"__graft_r$k"
    val Final = "__graft_final"
    val FinalRank = "__graft_rfinal"
  }

  /** P15: per-stage statistics, post-evaluate only
    * (`staged.py:498-505`, must-raise contract tested at
    * `tests/test_staged.py:491-497`). Prefer reading
    * [[StagedResult.statistics]] off the result object. */
  def getStatistics: Map[String, Map[String, Stats]] =
    lastResult.getOrElse(throw new IllegalStateException(
      "Call evaluate() before get_statistics().")).statistics

  /** P15: stage results, post-evaluate only (`staged.py:507-511`). */
  def getStageResults: List[StageResult] =
    lastResult.getOrElse(throw new IllegalStateException(
      "Call evaluate() before get_stage_results().")).stageResults

  // === Informational (staged.py:469-496) ===

  def summary(spark: SparkSession): DataFrame = {
    val rows = stages.toSeq.flatMap { stage =>
      val filterDesc = stage.filter match {
        case Some(StageFilter.ScoreThreshold(t)) => s"score >= $t"
        case Some(StageFilter.TopN(tn, tie))     => s"top $tn (on_tie=${tie.key})"
        case None                                => "None"
      }
      stage.evaluator.criteria.map { case (column, c) =>
        (stage.name, stage.weight, filterDesc, column, c.name, c.typeName, c.weight)
      }
    }
    spark.createDataFrame(rows).toDF(
      "stage", "stage_weight", "filter", "column",
      "criterion_name", "criterion_type", "criterion_weight")
  }
}
