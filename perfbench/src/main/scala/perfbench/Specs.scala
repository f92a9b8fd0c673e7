package perfbench

/** Criterion and stage specifications that render both as engine config
  * JSON (read through `ConfigLoader`) and as the matching model objects. */
object Specs {

  sealed trait Crit {
    def column: String
    def weight: Double
    def json: String
    def model: Model.Crit
  }

  final case class Linear(column: String, weight: Double, higherIsBetter: Boolean = true)
      extends Crit {
    def json = s""""$column": {"type": "linear", "weight": $weight, "higher_is_better": $higherIsBetter}"""
    def model = Model.Linear(column, column, weight, higherIsBetter)
  }

  final case class MinRatio(column: String, weight: Double) extends Crit {
    def json = s""""$column": {"type": "min_ratio", "weight": $weight}"""
    def model = Model.MinRatio(column, column, weight)
  }

  final case class Threshold(column: String, weight: Double,
      bands: Seq[(Double, Double, Double)]) extends Crit {
    def json = {
      val b = bands.map { case (lo, hi, s) => s"[$lo, $hi, $s]" }.mkString(", ")
      s""""$column": {"type": "threshold", "weight": $weight, "thresholds": [$b]}"""
    }
    def model = Model.Threshold(column, column, weight, bands)
  }

  final case class FormulaTarget(column: String, weight: Double, target: Double) extends Crit {
    def json =
      s""""$column": {"type": "formula", "weight": $weight, """ +
        s""""formula": "100 - abs(value - target) / target * 100", "variables": {"target": $target}}"""
    def model = Model.FormulaTarget(column, column, weight, target)
  }

  def criteriaJson(cs: Seq[Crit]): String = cs.map(_.json).mkString("{", ", ", "}")

  final case class Stage(name: String, crits: Seq[Crit], filter: Option[Model.Filter],
      weight: Double) {
    def json: String = {
      val f = filter.map {
        case Model.ScoreThreshold(t) =>
          s""", "filter": {"type": "score_threshold", "threshold": $t}"""
        case Model.TopN(n, excl) =>
          s""", "filter": {"type": "top_n", "top_n": $n, "on_tie": "${if (excl) "exclude" else "include"}"}"""
      }.getOrElse("")
      s"""{"name": "$name", "weight": $weight$f, "criteria": ${criteriaJson(crits)}}"""
    }
    def model: Model.Stage = Model.Stage(name, crits.map(_.model), filter, weight)
  }

  def stagedJson(stages: Seq[Stage], weighted: Boolean): String = {
    val mode = if (weighted) "weighted_combination" else "last_stage"
    s"""{"final_score_mode": "$mode", "stages": ${stages.map(_.json).mkString("[", ", ", "]")}}"""
  }

  /** Completes each stage's filter parameter from the model so that every
    * filter keeps part of its cohort: a score threshold at quantile `q`
    * of the stage's scores, a top-N at share `q` of the cohort. `kinds`
    * gives each non-final stage's filter shape. */
  def fitFilters(t: Model.Table, stages: Seq[Stage], kinds: Seq[Option[String]],
      q: Seq[Double], weighted: Boolean): Seq[Stage] = {
    var done = Seq.empty[Stage]
    stages.zipWithIndex.foreach { case (st, k) =>
      val probe = Model.staged(t, (done :+ st.copy(filter = None)).map(_.model), weighted)
      val safe = st.model.safe
      val scores = probe.stageCols.find(_._1 == s"${safe}_score").map(_._2)
        .getOrElse(Array.fill(t.size)(Double.NaN))
      val active = t.keys.indices.filter(i => probe.eliminatedAt(i) == null)
      val real = active.map(scores).filterNot(_.isNaN).sorted
      val filter = kinds.lift(k).flatten.map {
        case "threshold" =>
          val raw = if (real.isEmpty) 0.0 else real(((real.size - 1) * q(k)).toInt)
          Model.ScoreThreshold(math.floor(raw * 1000) / 1000)
        case kind =>
          Model.TopN(math.max(1, (active.size * q(k)).toInt), kind == "top_n_exclude")
      }
      done = done :+ st.copy(filter = filter)
    }
    done
  }
}
