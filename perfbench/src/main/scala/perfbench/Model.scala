package perfbench

/** Plain-Scala model of the reference engine's semantics (the pandas
  * `evaluator.py` / `staged.py` behaviour the graft engine reproduces),
  * used to check the engine's outputs. Missing values are `NaN`, as in
  * pandas; the check treats an engine `null` and a model `NaN` as equal.
  *
  * Statistics skip missing values. The median is the linear-interpolation
  * percentile, written in the same floating-point form as Spark's exact
  * `percentile`, so median-parameterized scores are reproducible bit for
  * bit and score ties stay ties.
  */
object Model {

  final case class Stats(min: Double, max: Double, median: Double)

  def stats(values: Iterator[Double]): Stats = {
    val xs = values.filterNot(_.isNaN).toArray
    if (xs.isEmpty) Stats(Double.NaN, Double.NaN, Double.NaN)
    else {
      java.util.Arrays.sort(xs)
      val pos = 0.5 * (xs.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      val med =
        if (lo == hi) xs(lo)
        else (hi - pos) * xs(lo) + (pos - lo) * xs(hi)
      Stats(xs.head, xs.last, med)
    }
  }

  private def clip(x: Double, lo: Double, hi: Double): Double =
    if (x < lo) lo else if (x > hi) hi else x

  /** One criterion: `score` returns the WEIGHTED score, like the engine's
    * detail columns. */
  sealed trait Crit {
    def column: String
    def name: String
    def weight: Double
    def score(v: Double, s: Stats): Double
  }

  final case class Linear(column: String, name: String, weight: Double,
      higherIsBetter: Boolean) extends Crit {
    def score(v: Double, s: Stats): Double = {
      if (s.min.isNaN || s.max.isNaN) return Double.NaN * weight
      val base =
        if (higherIsBetter) {
          if (s.max == s.min) 100.0 else (v - s.min) / (s.max - s.min) * 100.0
        } else {
          val negMin = -s.max
          val negMax = -s.min
          if (negMax == negMin) 100.0 else (-v - negMin) / (negMax - negMin) * 100.0
        }
      base * weight
    }
  }

  /** Bands `(lower inclusive, upper exclusive, score)`; later bands win,
    * unmatched (and missing) values score 0. */
  final case class Threshold(column: String, name: String, weight: Double,
      bands: Seq[(Double, Double, Double)]) extends Crit {
    def score(v: Double, s: Stats): Double = {
      var r = 0.0
      bands.foreach { case (lo, hi, sc) => if (v >= lo && v < hi) r = sc }
      r * weight
    }
  }

  final case class MinRatio(column: String, name: String, weight: Double) extends Crit {
    def score(v: Double, s: Stats): Double = {
      val ratio = if (v == 0.0) s.min / 0.0 else s.min / v
      ratio * 100.0 * weight
    }
  }

  /** The config formula `100 - abs(value - target) / target * 100`,
    * clipped to [0, 100]. */
  final case class FormulaTarget(column: String, name: String, weight: Double,
      target: Double) extends Crit {
    def score(v: Double, s: Stats): Double =
      clip(100.0 - math.abs(v - target) / target * 100.0, 0.0, 100.0) * weight
  }

  /** Built-in `proximity_to_median`. */
  final case class ProximityToMedian(column: String, name: String, weight: Double)
      extends Crit {
    def score(v: Double, s: Stats): Double = {
      val x = 100.0 - math.abs((v - s.median) / s.median) * 100.0
      (if (x < 0.0) 0.0 else x) * weight
    }
  }

  /** Template `budget_proximity(target)`. */
  final case class BudgetProximity(column: String, name: String, weight: Double,
      target: Double) extends Crit {
    def score(v: Double, s: Stats): Double =
      clip((1.0 - math.abs(v - target) / target) * 100.0, 0.0, 100.0) * weight
  }

  /** Input table: one key per row and named numeric columns (NaN = missing). */
  final case class Table(keys: Array[Long], cols: Map[String, Array[Double]]) {
    def size: Int = keys.length
  }

  /** Competition rank ("1-2-2-4"), highest score first; NaN is unranked. */
  def competitionRank(scores: Array[Double], rows: Array[Int]): Map[Int, Long] = {
    val ranked = rows.filterNot(i => scores(i).isNaN)
      .sortBy(i => -scores(i))
    val out = Map.newBuilder[Int, Long]
    var k = 0
    while (k < ranked.length) {
      var j = k
      while (j < ranked.length && scores(ranked(j)) == scores(ranked(k))) j += 1
      (k until j).foreach(t => out += ranked(t) -> (k + 1L))
      k = j
    }
    out.result()
  }

  /** Single-stage evaluation of `rows` (indices into the table). */
  final case class Eval(
      critScores: Seq[(Crit, Array[Double])],
      finalScore: Array[Double],
      rank: Map[Int, Long],
      stats: Map[String, Stats])

  def evaluate(t: Table, rows: Array[Int], crits: Seq[Crit],
      normalize: Boolean = true): Eval = {
    val st = crits.map(_.column).distinct
      .map(c => c -> stats(rows.iterator.map(t.cols(c)(_)))).toMap
    val n = t.size
    val critScores = crits.map { c =>
      val out = Array.fill(n)(Double.NaN)
      val vals = t.cols(c.column)
      rows.foreach(i => out(i) = c.score(vals(i), st(c.column)))
      c -> out
    }
    val total = crits.map(_.weight).sum
    val fin = Array.fill(n)(Double.NaN)
    rows.foreach { i =>
      fin(i) =
        if (crits.isEmpty) 0.0
        else {
          val summed = critScores.map(_._2(i)).reduceLeft(_ + _)
          if (normalize) { if (total > 0) summed / total else 0.0 } else summed
        }
    }
    Eval(critScores, fin, competitionRank(fin, rows), st)
  }

  sealed trait Filter
  final case class ScoreThreshold(t: Double) extends Filter
  final case class TopN(n: Int, exclude: Boolean) extends Filter

  final case class Stage(name: String, crits: Seq[Crit], filter: Option[Filter],
      weight: Double = 1.0) {
    def safe: String = name.toLowerCase.replace(" ", "_").replace("-", "_")
  }

  /** Staged evaluation result. `stageCols` holds every per-stage output
    * column by its result name (NaN outside the stage's cohort). */
  final case class StagedOut(
      eliminatedAt: Array[String],
      stageCols: Seq[(String, Array[Double])],
      stagesRun: Seq[Stage],
      finalScore: Array[Double],
      rank: Map[Int, Long])

  def staged(t: Table, stages: Seq[Stage], weightedCombination: Boolean): StagedOut = {
    val n = t.size
    val elim = Array.fill[String](n)(null)
    var active: Array[Int] = Array.range(0, n)
    val cols = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Double])]
    val ran = scala.collection.mutable.ArrayBuffer.empty[Stage]
    val scoreByStage = scala.collection.mutable.Map.empty[String, Array[Double]]
    stages.zipWithIndex.foreach { case (stage, idx) =>
      if (active.nonEmpty) {
        val ev = evaluate(t, active, stage.crits)
        ran += stage
        val rankArr = Array.fill(n)(Double.NaN)
        ev.rank.foreach { case (i, r) => rankArr(i) = r.toDouble }
        // detail names last-wins, like the engine's renamed projection
        val named = ev.critScores.map { case (c, a) => s"${stage.safe}_${c.name}" -> a } ++
          Seq(s"${stage.safe}_score" -> ev.finalScore, s"${stage.safe}_ranking" -> rankArr)
        val lastByName = named.groupBy(_._1).view.mapValues(_.last._2).toMap
        named.map(_._1).distinct.foreach { nm =>
          cols.indexWhere(_._1 == nm) match {
            case -1 => cols += nm -> lastByName(nm)
            case j  => cols.remove(j); cols += nm -> lastByName(nm)
          }
        }
        scoreByStage(stage.safe) = ev.finalScore
        val isLast = idx == stages.size - 1
        val sc = ev.finalScore
        val eliminated: Set[Int] = (if (isLast) None else stage.filter) match {
          case Some(ScoreThreshold(th)) => active.filter(i => sc(i) < th).toSet
          case Some(TopN(k, false)) =>
            active.filterNot(i => ev.rank.get(i).exists(_ <= k)).toSet
          case Some(TopN(k, true)) =>
            if (active.length <= k) Set.empty
            else {
              val real = active.map(sc).filterNot(_.isNaN).sorted(Ordering.Double.TotalOrdering.reverse)
              if (real.length < k) active.toSet
              else {
                val cutoff = real(k - 1)
                val atOrAbove = real.count(_ >= cutoff)
                def adv(x: Double) = !x.isNaN && (if (atOrAbove > k) x > cutoff else x >= cutoff)
                active.filterNot(i => adv(sc(i))).toSet
              }
            }
          case None => Set.empty
        }
        eliminated.foreach(i => if (elim(i) == null) elim(i) = stage.name)
        active = active.filterNot(eliminated)
      }
    }
    val fin = Array.fill(n)(Double.NaN)
    val last = stages.last
    if (weightedCombination) {
      val total = stages.map(_.weight).sum
      val present = stages.filter(s => scoreByStage.contains(s.safe))
      if (total != 0 && present.nonEmpty)
        (0 until n).foreach { i =>
          fin(i) = present.foldLeft(0.0) { (acc, s) =>
            val x = scoreByStage(s.safe)(i)
            acc + (if (x.isNaN) 0.0 else x) * (s.weight / total)
          }
        }
    } else scoreByStage.get(last.safe).foreach(a => Array.copy(a, 0, fin, 0, n))
    val survivors = (0 until n).filter(elim(_) == null).toArray
    StagedOut(elim, cols.toSeq, ran.toSeq, fin, competitionRank(fin, survivors))
  }
}
