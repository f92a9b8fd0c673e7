package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Checkpoints, GraftSession}

/** Benchmark entry point; see perfbench/README.md. One client thread runs
  * each workload's fixed call list in a closed loop against a `local[n]`
  * session built by `GraftSession`.
  *
  * A run: start the session, set the workload up [[SetupReps]] times
  * (median), warm up, then either the timed passes that fit `--seconds`
  * (`--trace 0`, end-to-end metrics) or one untraced and one traced pass
  * (`--trace 1`, per-layer metrics). Output checks and their
  * self-tests run after timing. The last stdout line is the result JSON.
  */
object Main {

  val SetupReps = 3
  val CorpusDocs = 2000
  val CorpusCustomers = 3000

  final class Acc {
    var attempted = 0
    var failed = 0
    var rows = 0L
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var peakMb = 0.0
    var retainedMb = 0.0
    var peakBlocks = 0
    val verifies = mutable.ArrayBuffer.empty[(String, () => Option[String])]
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Storage held by cached and checkpointed RDD blocks, in MB, and the
    * block count, once the listener bus has caught up. */
  def storage(spark: SparkSession): (Double, Int) = {
    Tracer.drain(spark)
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / 1e6, infos.map(_.numCachedPartitions).sum)
  }

  /** One pass of the call list; returns the sum of the call latencies.
    * Each call's latency runs from its first API call to its result on the
    * driver. After each call, outside its latency, the harness makes the
    * caller-visible release and calls `Checkpoints.freeAll`, as a host would
    * per request. With `sample`, storage is sampled after the result (peak)
    * and after the release (retained). */
  def pass(spark: SparkSession, calls: Seq[Call], tr: Spans, acc: Acc,
      sample: Boolean = false): Double = {
    var wall = 0.0
    val line = new StringBuilder("pass:")
    calls.foreach { c =>
      acc.attempted += 1
      val tc = System.nanoTime()
      try {
        val done = c.run(tr)
        val lat = secs(tc)
        wall += lat
        acc.lat.getOrElseUpdate(c.kind, mutable.ArrayBuffer.empty) += lat
        line ++= f" ${c.name} $lat%.2fs"
        if (sample) {
          val (mb, blocks) = storage(spark)
          line ++= f"/$mb%.2fMB"
          acc.peakMb = math.max(acc.peakMb, mb)
          acc.peakBlocks = math.max(acc.peakBlocks, blocks)
        }
        tr.span(c.name, "release") { done.release() }
        if (sample) acc.retainedMb = math.max(acc.retainedMb, storage(spark)._1)
        acc.rows += c.rows
        acc.verifies += c.name -> done.verify
      } catch {
        case e: Throwable =>
          acc.failed += 1
          log(s"call ${c.name} threw: $e")
      }
      Checkpoints.freeAll(spark)
    }
    log(line.toString)
    wall
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", "4")
    val work = opts("work")
    val digestPath = opts("digests")

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores, "perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0)

    try {
      if (flags.contains("record-digests")) {
        record(spark, work, digestPath)
        return
      }
      val wl: Workload = workload match {
        case "tender" => new Tender(seed)
        case "corpus" =>
          val c = new Corpus(seed, work, CorpusDocs, CorpusCustomers)
          c.loadRecorded(digestPath)
          c
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }

      val setupTimes = (0 until SetupReps).map { rep =>
        val t = System.nanoTime(); wl.setup(spark, rep); secs(t)
      }
      val warm = new Acc
      val tw = System.nanoTime()
      pass(spark, wl.calls, NoSpans, warm)
      val warmS = secs(tw)
      val setupS = sessionS + median(setupTimes) + warmS
      log(f"session $sessionS%.2f s, set-up ${setupTimes.map(t => f"$t%.2f").mkString("/")} s, warm-up $warmS%.2f s")

      val timed = new Acc
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      if (!trace) {
        val passes = math.max(1, math.floor(seconds / wl.nominalPassS).toInt)
        val walls = (1 to passes).map(_ => pass(spark, wl.calls, NoSpans, timed))
        log(s"${walls.size} timed passes: ${walls.map(w => f"$w%.2f").mkString(" ")} s")
        metrics("setup_s") = (setupS, "s")
        metrics("wall_s") = (median(walls), "s")
        metrics("single_p50_s") = (median(timed.lat.getOrElse("single", Nil).toSeq), "s")
        metrics("staged_p50_s") = (median(timed.lat.getOrElse("staged", Nil).toSeq), "s")
        metrics("bids_per_s") = (timed.rows / walls.sum, "1/s")
      } else {
        val untraced = new Acc
        val plainS = pass(spark, wl.calls, NoSpans, untraced)
        val tracer = new Tracer(spark)
        val tracedS = pass(spark, wl.calls, tracer, timed, sample = true)
        val rep = tracer.report()
        tracer.stop()
        layerMetrics(metrics, rep, wl, timed, tracedS - plainS)
        timed.attempted += untraced.attempted
        timed.failed += untraced.failed
        timed.verifies ++= untraced.verifies
      }

      // output checks, outside every timed region
      val all = Seq(warm, timed)
      val attempted = all.map(_.attempted).sum
      var failed = all.map(_.failed).sum
      all.flatMap(_.verifies).foreach { case (name, v) =>
        val err = try v() catch { case e: Throwable => Some(e.toString) }
        err.foreach { m => failed += 1; log(s"check failed for $name: $m") }
      }
      val tests = wl.selfTests(spark)
      tests.filterNot(_._2).foreach { case (n, _) => log(s"self-test failed: $n") }
      log(s"self-tests: ${tests.count(_._2)}/${tests.size} passed")
      if (trace) metrics("failed_ratio") = (failed.toDouble / attempted, "ratio")
      val unmeasured = metrics.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
      unmeasured.foreach(k => log(s"metric $k has no finite value"))
      val correct = failed == 0 && tests.forall(_._2) && unmeasured.isEmpty
      println(resultJson(correct, attempted, failed, metrics.toSeq))
    } finally {
      spark.stop()
    }
  }

  /** Per-layer metrics of the traced pass. The parts `config.parse_s`,
    * `driver.s` and the module times add up to `span.wall_s`. */
  def layerMetrics(m: mutable.LinkedHashMap[String, (Double, String)], rep: Tracer.Report,
      wl: Workload, acc: Acc, overheadS: Double): Unit = {
    val kinds = wl.calls.map(c => c.name -> c.kind).toMap
    def self(k: String) = rep.self.getOrElse(k, 0.0)
    def jobs(k: String) = rep.moduleJobs.getOrElse(k, 0).toDouble
    val stagedEval = rep.spans.filter { case (sp, _) =>
      sp.name == "evaluate" && kinds.get(sp.call).contains("staged")
    }
    m("span.wall_s") = (rep.spanWall, "s")
    m("config.parse_s") = (self("config"), "s")
    m("driver.s") = (self("driver"), "s")
    m("StatsAgg.s") = (self("StatsAgg"), "s")
    m("StatsAgg.jobs") = (jobs("StatsAgg"), "count")
    m("StatsAgg.task_s") = (rep.moduleTaskS("StatsAgg"), "s")
    m("Ranks.s") = (self("Ranks"), "s")
    m("Ranks.jobs") = (jobs("Ranks"), "count")
    m("StagedEvaluator.s") = (self("StagedEvaluator"), "s")
    m("StagedEvaluator.eager_s") = (stagedEval.map(_._1.wallS).sum, "s")
    m("StagedEvaluator.jobs") = (stagedEval.map(_._2).sum.toDouble, "count")
    m("result.s") = (self("result"), "s")
    m("result.jobs") = (jobs("result"), "count")
    m("result.shuffle_mb") = (rep.moduleShuffleMb("result"), "MB")
    m("ops.s") = (self("ops"), "s")
    m("other.s") = (self("other"), "s")
    m("trace.overhead_s") = (overheadS, "s")
    m("peak_storage_mb") = (acc.peakMb, "MB")
    m("storage.blocks") = (acc.peakBlocks.toDouble, "count")
    m("retained_storage_mb") = (acc.retainedMb, "MB")
    m("spark.jobs") = (rep.jobs.toDouble, "count")
    m("spark.stages") = (rep.stages.toDouble, "count")
    m("spark.tasks") = (rep.tasks.toDouble, "count")
    m("spark.shuffle_write_mb") = (rep.shuffleWriteMb, "MB")
    m("spark.spill_mb") = (rep.spillMb, "MB")
    m("spark.task_s") = (rep.taskS, "s")
    m("spark.gc_s") = (rep.gcS, "s")
    CorpusCalls.foreach { call =>
      val ss = rep.spans.filter(_._1.call == call)
      m(s"$call.s") = (ss.map(_._1.wallS).sum, "s")
      m(s"$call.jobs") = (ss.map(_._2).sum.toDouble, "count")
    }
  }

  val CorpusCalls = Seq("Retrieval.bm25", "Retrieval.bm25_served", "Retrieval.prf",
    "Dedup.minhash", "Dedup.poly_minhash", "Dedup.prefix_jaccard", "Graphs.er_cc")

  /** Runs every corpus variant once and writes its output digests. */
  def record(spark: SparkSession, work: String, path: String): Unit = {
    val all = (0 until Corpus.Variants).map { v =>
      val c = new Corpus(v.toLong, work, CorpusDocs, CorpusCustomers)
      c.setup(spark, v)
      val acc = new Acc
      pass(spark, c.calls, NoSpans, acc)
      require(acc.failed == 0, s"variant $v: a call failed")
      log(s"variant $v: ${c.digests}")
      s"v$v" -> c.digests
    }.toMap
    Corpus.writeDigests(path, all)
    println(s"""{"recorded": ${all.size}}""")
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, unit)) =>
      val num = if (v.isNaN || v.isInfinite) "-1" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$unit"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
