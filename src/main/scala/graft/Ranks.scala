package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Standard-competition ranking ("1-2-2-4"), the only ranking the reference
  * uses: pandas `rank(ascending=False, method='min')`
  * (`/root/reference/bid_evaluation/evaluator.py:314-317`,
  * `staged.py:361-364,389`). Equivalent to SQL `RANK()` descending.
  *
  * A naive `rank().over(Window.orderBy(...))` funnels every row through ONE
  * partition — fine for a bid table, fatal at 100 TB. Instead we aggregate to
  * the distinct score values (`groupBy(score).count`), rank that far smaller
  * frame (the only single-partition window runs over |distinct scores| rows),
  * and join the ranks back. AQE turns the join into a broadcast when the
  * distinct-score frame is small, so the big side is never shuffled beyond
  * the groupBy.
  */
object Ranks {

  private val Key = "__graft_key"
  private val Score = "__graft_score"
  private val Cnt = "__graft_cnt"

  /** Null and NaN scores are unranked. */
  private def real(c: Column): Column = c.isNotNull && !isnan(c)

  /** Appends `outCol` = competition rank of `scoreCol` (descending: highest
    * score -> rank 1) as a nullable LongType. Rows with null OR NaN score
    * get a null rank — both map to pandas NaN, which `rank()` excludes from
    * the ranking universe (NaN rank, other ranks unshifted; the reference's
    * subsequent `.astype(int)` would raise, so the engine defines the
    * behavior pandas leaves undefined: NaN ≡ null ≡ unranked).
    */
  def withCompetitionRank(
      df: DataFrame,
      scoreCol: String,
      outCol: String,
      scalable: Boolean = false
  ): DataFrame = {
    // pandas result['ranking'] = ... overwrites; a join would duplicate
    val base = if (df.columns.contains(outCol)) df.drop(outCol) else df
    val counts = base
      .filter(real(col(scoreCol)))
      .groupBy(col(scoreCol).as(Score))
      .agg(count(lit(1)).as(Cnt))
    val ranks = countRanks(counts, None, outCol, scalable)
    base.join(ranks.select(col(Score), col(outCol)),
        base(scoreCol) === col(Score), "left")
      .drop(Score)
  }

  /** Competition ranks of several populations of one frame at once: each
    * `(score, outCol)` pair appends `outCol`, the rank of `score` among the
    * rows where it is real — a population is selected by nulling its score
    * outside it. The scores stack into ONE distinct (population, score)
    * frame: one pass over `df`, one aggregate, one keyed rank (window, or
    * keyed prefix sums when `scalable`), and every population joins back
    * through the same lookup (one broadcast, reused). Returns the ranked
    * frame and the checkpoints it reads, for the caller to free. */
  private[graft] def withCompetitionRanks(
      df: DataFrame,
      scores: Seq[(Column, String)],
      scalable: Boolean
  ): (DataFrame, Seq[DataFrame]) = {
    val keyed = scores.indices.map(k => struct(lit(k).as(Key), scores(k)._1.as(Score)))
    val counts = df.select(explode(array(keyed: _*)).as("p")).select("p.*")
      .filter(real(col(Score)))
      .groupBy(Key, Score).agg(count(lit(1)).as(Cnt))
    val ranks = countRanks(counts, Some(Key), "__graft_rank", scalable)
    // struct keys: the population id then rides the equi-join instead of
    // being pushed into each join's build side, which would give every
    // population its own copy of the rank frame
    val lookup = ranks.select(struct(col(Key), col(Score)).as("__graft_rk"), col("__graft_rank"))
    val ranked = scores.indices.foldLeft(df) { (acc, k) =>
      acc.join(lookup, when(real(scores(k)._1), keyed(k)) === col("__graft_rk"), "left")
        .drop("__graft_rk")
        .withColumnRenamed("__graft_rank", scores(k)._2)
    }
    (ranked, if (scalable) Seq(ranks) else Nil)
  }

  /** Appends `outCol` to a (key?, score, count) frame: the competition rank
    * of each distinct score within its key — rows ranked ahead plus one. */
  private def countRanks(counts: DataFrame, key: Option[String], outCol: String,
      scalable: Boolean): DataFrame =
    if (scalable) prefixSumRanks(counts, key, Score, outCol, 0)
    else {
      val w = Window.partitionBy(key.map(col).toSeq: _*).orderBy(col(Score).desc)
      counts.withColumn(outCol, (sum(Cnt).over(w) - col(Cnt) + lit(1L)).cast("long"))
    }

  /** Competition ranks WITHOUT a window, over rows carrying a row count
    * `Cnt` (1 for raw rows, the group size for distinct scores) and real
    * scores only. Three steps, none global: (1) range-partition by (key,
    * score descending) — equal values land in one partition, so tie
    * groups never span a boundary; (2) collect one count-sum per
    * (partition, key) and prefix-sum them on the driver; (3) per partition,
    * a running sum in sorted order yields `rank = rows ranked ahead of the
    * score + 1`. The only driver data is one long per (partition, key). */
  private def prefixSumRanks(rows: DataFrame, key: Option[String], score: String,
      outCol: String, numPartitions: Int): DataFrame = {
    val spark = rows.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val order = key.map(col).toSeq :+ col(score).desc
    // Checkpoint, not persist: the count-sum collection and the ranking
    // pass must see the SAME range partitioning (repartitionByRange SAMPLES
    // bounds — a recompute could re-sample differently and silently
    // mis-rank against the collected offsets). Truncated lineage makes a
    // divergent recompute impossible; blocks release at the host's
    // Checkpoints.freeAll barrier. Lazy: the collection below is a full
    // pass, so the blocks materialize inside it.
    val sorted = graft.Checkpoints.localCheckpoint(rows
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*), eager = false)

    val sums = sorted
      .select(spark_partition_id().as("pid"), key.fold(lit(0))(col).as("k"), col(Cnt))
      .groupBy("pid", "k").agg(sum(Cnt))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val offsetsB = spark.sparkContext.broadcast(runOffsets(sums))

    val keyIdx = key.fold(-1)(sorted.schema.fieldIndex)
    val scoreIdx = sorted.schema.fieldIndex(score)
    val cntIdx = sorted.schema.fieldIndex(Cnt)
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol, LongType, nullable = false))
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val o = offsetsB.value
      var k = -1
      var before = 0L
      var tieStart = 0L
      var prev = 0.0
      it.map { r =>
        val rk = if (keyIdx < 0) 0 else r.getInt(keyIdx)
        val s = r.getDouble(scoreIdx)
        // == ties -0.0 with 0.0, like Spark's comparison and grouping
        if (rk != k || s != prev) {
          if (rk != k) { k = rk; before = o.getOrElse((pid, rk), 0L) }
          tieStart = before
          prev = s
        }
        before += r.getLong(cntIdx)
        Row.fromSeq(r.toSeq :+ (tieStart + 1L))
      }
    }(Encoders.row(schema))
  }

  /** Rows ranked ahead of each (partition, key) run: per key, the summed
    * row counts of its runs in lower partitions. */
  private def runOffsets(sums: Seq[(Int, Int, Long)]): Map[(Int, Int), Long] = {
    val acc = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    sums.sortBy(s => (s._2, s._1)).map { case (pid, k, total) =>
      val before = acc(k)
      acc(k) = before + total
      (pid, k) -> before
    }.toMap
  }

  /** Fully distributed competition rank for CONTINUOUS score columns,
    * where distinct-value aggregation degenerates (|distinct| ~ N and the
    * small-frame window above would single-partition N rows): the
    * windowless prefix-sum rank over the raw rows, each counting one.
    * Null and NaN scores get null rank (excluded from the universe),
    * matching [[withCompetitionRank]].
    */
  def rangePartitionedRank(
      df: DataFrame,
      scoreCol: String,
      outCol: String,
      numPartitions: Int = 0
  ): DataFrame = {
    val base = if (df.columns.contains(outCol)) df.drop(outCol) else df
    val ranked = prefixSumRanks(base.filter(real(col(scoreCol))).withColumn(Cnt, lit(1L)),
      None, scoreCol, outCol, numPartitions).drop(Cnt)
    // always union: even a non-nullable double column can carry NaN
    ranked.unionByName(base.filter(!real(col(scoreCol)))
      .withColumn(outCol, lit(null).cast("long")))
  }
}
