package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks. Each returns `None` when the engine's result agrees with
  * the model, or a one-line description of the first disagreement. */
object Check {

  val RelTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    if (a.isNaN || b.isNaN) a.isNaN && b.isNaN
    else if (a.isInfinite || b.isInfinite) a == b
    else math.abs(a - b) <= RelTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def dbl(r: Row, i: Int): Double =
    if (r.isNullAt(i)) Double.NaN
    else r.get(i) match {
      case d: java.lang.Double => d.doubleValue
      case n: java.lang.Number => n.doubleValue
      case other => throw new IllegalStateException(s"not numeric: $other")
    }

  def rankOf(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[Number].longValue)

  /** Engine rows in output order, indexed by the table's key column. */
  final case class Result(fields: Array[String], rows: Array[Row], keyCol: String) {
    private val idx = fields.zipWithIndex.toMap
    def has(c: String): Boolean = idx.contains(c)
    def at(c: String): Int = idx.getOrElse(c, throw new NoSuchElementException(s"column $c"))
    def perturbed(row: Int, col: String, f: Any => Any): Result = {
      val i = at(col)
      val copy = rows.clone()
      val vals = copy(row).toSeq.toArray
      vals(i) = f(vals(i))
      copy(row) = Row.fromSeq(vals.toSeq)
      Result(fields, copy, keyCol)
    }
  }

  def collect(df: DataFrame, keyCol: String): Result =
    Result(df.columns, df.collect(), keyCol)

  private def keyIndex(t: Model.Table): Map[Long, Int] = t.keys.zipWithIndex.toMap

  /** Every engine row maps to one distinct table key and all keys appear. */
  private def rowsOf(res: Result, t: Model.Table, expectRows: Int): Either[String, Array[Int]] = {
    if (res.rows.length != expectRows)
      return Left(s"row count ${res.rows.length}, expected $expectRows")
    val ki = keyIndex(t)
    val k = res.at(res.keyCol)
    val out = res.rows.map(r => ki.getOrElse(r.getLong(k), -1))
    if (out.contains(-1)) Left("unknown key in result")
    else if (out.distinct.length != out.length) Left("duplicate key in result")
    else Right(out)
  }

  private def cmpScores(res: Result, rows: Array[Int], col: String,
      want: Array[Double]): Option[String] = {
    val c = res.at(col)
    res.rows.indices.find(j => !close(dbl(res.rows(j), c), want(rows(j)))).map { j =>
      s"$col of key ${res.rows(j).getLong(res.at(res.keyCol))}: " +
        s"${dbl(res.rows(j), c)} vs model ${want(rows(j))}"
    }
  }

  private def cmpRanks(res: Result, rows: Array[Int], col: String,
      want: Int => Option[Long]): Option[String] = {
    val c = res.at(col)
    res.rows.indices.find(j => rankOf(res.rows(j), c) != want(rows(j))).map { j =>
      s"$col of key ${res.rows(j).getLong(res.at(res.keyCol))}: " +
        s"${rankOf(res.rows(j), c)} vs model ${want(rows(j))}"
    }
  }

  /** Single-stage result: every detail score, the final score, the
    * competition ranking, and the output order (ranking ascending, unranked
    * last). */
  def single(res: Result, t: Model.Table, rowsIn: Array[Int], ev: Model.Eval): Option[String] =
    rowsOf(res, t, rowsIn.length) match {
      case Left(e) => Some(e)
      case Right(rows) =>
        val details = ev.critScores.groupBy(_._1.name).view.mapValues(_.last._2).toMap
        details.iterator.map { case (nm, a) => cmpScores(res, rows, s"score_$nm", a) }
          .collectFirst { case Some(e) => e }
          .orElse(cmpScores(res, rows, "final_score", ev.finalScore))
          .orElse(cmpRanks(res, rows, "ranking", ev.rank.get))
          .orElse(sortedBy(res, Seq("ranking")))
    }

  /** Staged result: eliminations, every per-stage column, final score and
    * ranking, and the output order (ranking ascending, then final score
    * descending, missing last). */
  def staged(res: Result, t: Model.Table, out: Model.StagedOut): Option[String] =
    rowsOf(res, t, t.size) match {
      case Left(e) => Some(e)
      case Right(rows) =>
        val e = res.at("eliminated_at_stage")
        val elimErr = res.rows.indices.find { j =>
          Option(res.rows(j).getString(e)) != Option(out.eliminatedAt(rows(j)))
        }.map(j => s"eliminated_at_stage of key ${res.rows(j).getLong(res.at(res.keyCol))}: " +
          s"${res.rows(j).getString(e)} vs model ${out.eliminatedAt(rows(j))}")
        val missing = out.stageCols.map(_._1).find(c => !res.has(c))
          .map(c => s"missing column $c")
        elimErr.orElse(missing).orElse {
          out.stageCols.iterator.map { case (c, a) =>
            if (c.endsWith("_ranking"))
              cmpRanks(res, rows, c, i => if (a(i).isNaN) None else Some(a(i).toLong))
            else cmpScores(res, rows, c, a)
          }.collectFirst { case Some(err) => err }
        }.orElse(cmpScores(res, rows, "final_score", out.finalScore))
          .orElse(cmpRanks(res, rows, "ranking", out.rank.get))
          .orElse(sortedBy(res, Seq("ranking", "-final_score")))
    }

  /** Output order: ascending ranking with unranked last; a `-col` key sorts
    * descending with missing last. */
  private def sortedBy(res: Result, keys: Seq[String]): Option[String] = {
    val idx = keys.map(k => (res.at(k.stripPrefix("-")), k.startsWith("-")))
    def cmp(a: Row, b: Row): Int = {
      idx.iterator.map { case (i, desc) =>
        val x = dbl(a, i); val y = dbl(b, i)
        if (x.isNaN && y.isNaN) 0
        else if (x.isNaN) 1
        else if (y.isNaN) -1
        else if (desc) java.lang.Double.compare(y, x)
        else java.lang.Double.compare(x, y)
      }.find(_ != 0).getOrElse(0)
    }
    (1 until res.rows.length).find(j => cmp(res.rows(j - 1), res.rows(j)) > 0)
      .map(j => s"output order broken at row $j")
  }

  /** Order-insensitive text digest of collected rows: doubles at 10
    * significant digits, rows sorted, SHA-256. Recorded per corpus
    * variant on the commit that defined the benchmark. */
  def textDigest(rows: Array[Row]): String = {
    def fmt(v: Any): String = v match {
      case null => "null"
      case d: java.lang.Double => if (d.isNaN) "NaN" else f"${d.doubleValue}%.10g"
      case f: java.lang.Float => f"${f.doubleValue}%.10g"
      case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(fmt).mkString("(", ",", ")")
      case other => other.toString
    }
    val lines = rows.map(r => r.toSeq.map(fmt).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString + s":${rows.length}"
  }
}
