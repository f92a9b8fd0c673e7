package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Evaluator, StagedEvaluator}
import graft.config.ConfigLoader
import graft.templates.Templates

/** `tender`: the reference's real use. Small seeded bid tables, one per
  * call, held as in-memory DataFrames (what `Xlsx.read` produces). Calls
  * alternate between a config-built single-stage `Evaluator` and a 2-3
  * stage `StagedEvaluator`. Each cohort is tiny, so the cost is Spark job
  * and driver overhead.
  *
  * The call list's shape is fixed: single calls with a built-in or a
  * template criterion, a 2-stage top-N-exclude call in weighted-combination
  * mode, and a 3-stage threshold / top-N-include call in last-stage
  * mode. The seed draws the cells, the weights and the filter levels.
  * Cohort sizes sit on a log-uniform grid from 20 to 5,000 rows with
  * seeded +-5% jitter, the largest going to the 3-stage call, so totals
  * stay comparable across seeds. `graft.rank.rangeThreshold` is the
  * one conf set away from its default: see [[Tender.RangeThreshold]].
  */
final class Tender(seed: Long) extends Workload {
  import Tender._

  private var cases: Seq[Case] = Nil

  def setup(spark: SparkSession, rep: Int): Unit = {
    spark.conf.set("graft.rank.rangeThreshold", RangeThreshold.toString)
    val r = Workload.rng(seed, 1)
    cases = Shapes.indices.map { i =>
      val frac = i.toDouble / (Shapes.size - 1)
      val jitter = 1.0 + 0.1 * (r.nextDouble() - 0.5)
      val n = math.min(MaxRows, math.round(MinRows * math.pow(MaxRows.toDouble / MinRows, frac) * jitter).toInt)
      val table = genTable(Workload.rng(seed, 100 + i), i * 100000L, n)
      Case(s"${Shapes(i)}$i", table, toFrame(spark, table), Shapes(i), Workload.rng(seed, 200 + i))
    }.map(_.configure())
  }

  def calls: Seq[Call] = cases.map(_.call)

  def nominalPassS: Double = 10.0

  def selfTests(spark: SparkSession): Seq[(String, Boolean)] = {
    val single = cases.find(_.kind == "single").get
    val staged = cases.find(_.kind == "staged").get
    val rs = single.last
    val rt = staged.last
    def flagged(o: Option[String]) = o.isDefined
    val scoreRow = rs.rows.indexWhere(r => !r.isNullAt(rs.at("final_score")))
    val rankRow = rt.rows.indexWhere(r => !r.isNullAt(rt.at("ranking")))
    val elimRow = rt.rows.indexWhere(r => r.isNullAt(rt.at("eliminated_at_stage")))
    Seq(
      "tender.unperturbed_single_passes" -> single.verify(rs).isEmpty,
      "tender.unperturbed_staged_passes" -> staged.verify(rt).isEmpty,
      "tender.score_perturbation_flagged" -> flagged(single.verify(
        rs.perturbed(scoreRow, "final_score", v => v.asInstanceOf[Double] * (1 + 1e-6)))),
      "tender.rank_perturbation_flagged" -> flagged(staged.verify(
        rt.perturbed(rankRow, "ranking", v => v.asInstanceOf[Long] + 1L))),
      "tender.elimination_perturbation_flagged" -> flagged(staged.verify(
        rt.perturbed(elimRow, "eliminated_at_stage", _ => "Technical"))))
  }
}

object Tender {
  val MinRows = 20
  val MaxRows = 5000
  /** Below the largest cohort, so the 3-stage call's first stage ranks with
    * the scalable prefix-sum strategy and every other rank uses the window
    * strategy: both strategies run on every pass. */
  val RangeThreshold = 4000
  /** Call shapes in pass order: singles alternate with staged shapes. */
  val Shapes: Seq[String] = Seq("single_builtin", "staged_exclude_weighted",
    "single_template", "single_builtin", "single_template", "staged_threshold_include")

  val Columns = Seq("price", "delivery_days", "experience_years", "quality",
    "warranty_months", "team_size")

  val schema: StructType = StructType(
    StructField("bid_id", LongType, nullable = false) +:
      StructField("supplier", StringType) +:
      Columns.map(c => StructField(c, DoubleType)))

  /** Discrete cells (price in steps of 500, quality in half points, whole
    * days/years/months) tie often; 5% of rows copy another row's cells,
    * so final scores tie too; 3% of cells per column are missing. */
  def genTable(r: scala.util.Random, keyBase: Long, n: Int): Model.Table = {
    def draw(c: String): Double = c match {
      case "price"            => math.round((50000 + r.nextDouble() * 100000) / 500) * 500.0
      case "delivery_days"    => (10 + r.nextInt(111)).toDouble
      case "experience_years" => r.nextInt(26).toDouble
      case "quality"          => math.round((40 + r.nextDouble() * 60) * 2) / 2.0
      case "warranty_months"  => (6 * r.nextInt(11)).toDouble
      case "team_size"        => (2 + r.nextInt(39)).toDouble
    }
    val cols = Columns.map(c => c -> Array.fill(n)(0.0)).toMap
    (0 until n).foreach { i =>
      val copyFrom = if (i > 0 && r.nextDouble() < 0.05) r.nextInt(i) else -1
      Columns.foreach { c =>
        cols(c)(i) =
          if (copyFrom >= 0) cols(c)(copyFrom)
          else if (r.nextDouble() < 0.03) Double.NaN
          else draw(c)
      }
    }
    Model.Table(Array.tabulate(n)(i => keyBase + i), cols)
  }

  def toFrame(spark: SparkSession, t: Model.Table): DataFrame = {
    val rows = t.keys.indices.map { i =>
      Row.fromSeq(Seq(t.keys(i), s"S${t.keys(i)}") ++
        Columns.map { c => val v = t.cols(c)(i); if (v.isNaN) null else v })
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def w(r: scala.util.Random): Double = (5 + r.nextInt(36)).toDouble

  val ExperienceBands = Seq((0.0, 3.0, 20.0), (3.0, 8.0, 60.0), (8.0, 15.0, 85.0), (15.0, 100.0, 100.0))
  val QualityBands = Seq((0.0, 60.0, 30.0), (60.0, 80.0, 70.0), (80.0, 101.0, 100.0))

  final case class Case(name: String, table: Model.Table, frame: DataFrame, shape: String,
      r: scala.util.Random, json: String = "", crits: Seq[Specs.Crit] = Nil,
      custom: Option[Model.Crit] = None, stages: Seq[Specs.Stage] = Nil,
      weighted: Boolean = false) {

    def kind: String = if (shape.startsWith("single")) "single" else "staged"

    private val all = table.keys.indices.toArray

    /** Draws the configuration; filter levels come from the model. */
    def configure(): Case = shape match {
      case "single_builtin" | "single_template" =>
        val cs = Seq(
          Specs.MinRatio("price", w(r)),
          Specs.Linear("delivery_days", w(r), higherIsBetter = false),
          Specs.Threshold("experience_years", w(r), ExperienceBands),
          Specs.FormulaTarget("warranty_months", w(r), (12 + 6 * r.nextInt(7)).toDouble))
        val cw = w(r)
        val custom =
          if (shape == "single_builtin") Model.ProximityToMedian("team_size", "team_size", cw)
          else Model.BudgetProximity("team_size", "team_fit", cw, (8 + r.nextInt(20)).toDouble)
        copy(json = s"""{"criteria": ${Specs.criteriaJson(cs)}}""", crits = cs, custom = Some(custom))
      case _ =>
        val (stages, kinds, weighted) = stagedShape(shape)
        val q = stages.map(_ => 0.3 + 0.3 * r.nextDouble())
        val fitted = Specs.fitFilters(table, stages, kinds, q, weighted)
        copy(json = Specs.stagedJson(fitted, weighted), stages = fitted, weighted = weighted)
    }

    private def stagedShape(s: String): (Seq[Specs.Stage], Seq[Option[String]], Boolean) = {
      val tech = Specs.Stage("Technical", Seq(
        Specs.Threshold("experience_years", w(r), ExperienceBands),
        Specs.Linear("quality", w(r))), None, 0.4)
      val econ = Specs.Stage("Economic", Seq(
        Specs.MinRatio("price", w(r)),
        Specs.Linear("delivery_days", w(r), higherIsBetter = false)), None, 0.35)
      s match {
        case "staged_exclude_weighted" =>
          (Seq(tech, econ), Seq(Some("top_n_exclude")), true)
        case "staged_threshold_include" =>
          val quality = Specs.Stage("Quality Review", Seq(
            Specs.Threshold("quality", w(r), QualityBands),
            Specs.FormulaTarget("warranty_months", w(r), 24.0),
            Specs.Linear("team_size", w(r))), None, 0.25)
          (Seq(tech, quality, econ), Seq(Some("threshold"), Some("top_n_include")), false)
      }
    }

    private def evaluator(): Evaluator = {
      val e = Evaluator.fromConfig(ConfigLoader.parseJson(json)("criteria")
        .asInstanceOf[Map[String, Any]])
      custom.foreach {
        case c: Model.ProximityToMedian => e.custom(c.column, c.weight, "proximity_to_median")
        case c: Model.BudgetProximity =>
          e.custom(c.column, c.weight,
            Templates.applyTemplate("budget_proximity", Map("target" -> c.target)), c.name)
        case other => throw new IllegalStateException(s"unexpected custom $other")
      }
      e
    }

    /** The timed body: build from config, evaluate, collect. Returns the
      * collected rows and the caller-visible release. */
    private def execute(tr: Spans): (Check.Result, () => Unit) =
      if (kind == "single") {
        val ev = tr.span(name, "config") { evaluator() }
        val df = tr.span(name, "evaluate") { ev.evaluateResult(frame).df }
        (tr.span(name, "result") { Check.collect(df, "bid_id") }, () => ())
      } else {
        val se = tr.span(name, "config") { StagedEvaluator.fromConfig(ConfigLoader.parseJson(json)) }
        val sr = tr.span(name, "evaluate") { se.evaluateResult(frame) }
        (tr.span(name, "result") { Check.collect(sr.df, "bid_id") }, () => sr.unpersist())
      }

    /** The most recent collected result, for the self-tests. */
    var last: Check.Result = _

    def call: Call = Call(name, kind, table.size.toLong, { tr =>
      val (res, release) = execute(tr)
      last = res
      Done(release, () => verify(res))
    })

    private lazy val expectedSingle =
      Model.evaluate(table, all, crits.map(_.model) ++ custom.toSeq)
    private lazy val expectedStaged = Model.staged(table, stages.map(_.model), weighted)

    def verify(res: Check.Result): Option[String] =
      if (kind == "single") Check.single(res, table, all, expectedSingle)
      else Check.staged(res, table, expectedStaged)
  }
}
