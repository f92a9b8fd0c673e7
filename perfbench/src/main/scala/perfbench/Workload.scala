package perfbench

import org.apache.spark.sql.SparkSession

/** What a call hands back: how to release what it holds (the caller-visible
  * release, e.g. `StagedResult.unpersist()`), and how to check its output
  * once timing is over. */
final case class Done(release: () => Unit, verify: () => Option[String])

/** One public-API call of a workload's fixed call list. `kind` groups the
  * per-call latency (`single` or `staged`); `rows` counts the input rows the
  * call evaluates, for `bids_per_s`. */
final case class Call(name: String, kind: String, rows: Long, run: Spans => Done)

trait Workload {
  /** Builds the inputs for one set-up repetition, releasing any previous
    * repetition's inputs first. */
  def setup(spark: SparkSession, rep: Int): Unit

  /** The fixed call list of one pass, over the current inputs. */
  def calls: Seq[Call]

  /** Nominal seconds of one timed pass on a 4-core machine. A run measures
    * `max(1, floor(seconds / nominalPassS))` passes, the same number on
    * every run, so every run has the same sample count. */
  def nominalPassS: Double

  /** Checks that the output checks catch a perturbed result. Each entry is
    * (name, passed). Runs after timing. */
  def selfTests(spark: SparkSession): Seq[(String, Boolean)]
}

object Workload {
  /** Seeded random stream `k` of a run: the same seed and stream give the
    * same draws. */
  def rng(seed: Long, stream: Int): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)
}
