package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.{Evaluator, StagedEvaluator}
import graft.model.{StageFilter, Stats}

/** Streaming evaluation: the reference engine is fully batch
  * (SURVEY.md §2.6 — no streaming surface), so this module is the
  * extension layer that makes the same scoring semantics available over
  * unbounded event streams via Structured Streaming.
  *
  * Design: criterion statistics are cohort aggregates, which are undefined
  * over an unbounded stream — so the streaming scorer takes a FROZEN
  * [[Stats]] snapshot (computed from a reference batch, e.g. yesterday's
  * data) and applies the criterion expressions as a stateless projection.
  * Windowed aggregation and stateful sessionization cover the cases where
  * per-window or per-entity state is genuinely needed.
  */
object StreamingEval {

  /** Stateless streaming scoring: apply an [[Evaluator]]'s criterion
    * expressions with pre-computed statistics to a stream. Pure projection
    * -> works in append mode with no state store, arbitrary throughput. */
  def scoreStream(
      stream: DataFrame,
      evaluator: Evaluator,
      frozenStats: Map[String, Stats],
      includeDetails: Boolean = true
  ): DataFrame = {
    val specs = evaluator.criteria
    // frozenStats accepts either keying: criterion NAME (what
    // EvaluationResult.statistics / getStatistics return) or column name
    // (what StatsAgg produces directly)
    def statsFor(column: String, name: String): Stats =
      frozenStats.getOrElse(name, frozenStats.getOrElse(column,
        throw new IllegalArgumentException(
          s"frozenStats has no entry for criterion '$name' (column '$column')")))
    val scoreExprs: Seq[(String, Column)] = specs.map { case (column, c) =>
      s"score_${c.name}" -> c.expr(col(column).cast("double"), statsFor(column, c.name))
    }
    // one projection (the withColumn-per-criterion loop re-analyzes a
    // growing plan every micro-batch); dedup and combine are the SAME
    // implementation the batch buildResult uses, so batch and streaming
    // cannot drift apart
    Evaluator
      .detailProjection(stream, scoreExprs, includeDetails)
      .withColumn("final_score", Evaluator.combinedFinalScore(
        scoreExprs, evaluator.normalizeWeights, evaluator.getTotalWeight))
  }

  /** Stateless streaming STAGED scoring: the [[graft.StagedEvaluator]]
    * cascade with pre-computed per-stage statistics (a completed batch
    * run's `StagedResult.statistics` — stage k's stats ARE the stage-k
    * cohort aggregates, so freezing them makes every stage a row-local
    * projection). It runs the batch engine's own cascade builder with the
    * frozen stats where the batch path has live aggregates, so it emits
    * the batch engine's stage score/detail columns, `eliminated_at_stage`,
    * and `final_score` (both final-score modes); rows eliminated at an
    * earlier stage get null scores for stages they never reached.
    *
    * Two batch capabilities are inherently cohort-global and stay batch-
    * only: top-N stage filters (they rank the whole cohort — passing one
    * here throws) and the `ranking`/`{stage}_ranking` columns (omitted;
    * rank downstream per window/snapshot if needed). Works in append mode
    * with no state store, like [[scoreStream]]. */
  def scoreStagedStream(
      stream: DataFrame,
      staged: StagedEvaluator,
      frozenStats: Map[String, Map[String, Stats]],
      includeDetails: Boolean = true
  ): DataFrame = {
    val stages = staged.stageDefinitions
    require(stages.nonEmpty, "No stages defined. Add stages before evaluating.")
    stages.foreach { st =>
      st.filter.foreach {
        case StageFilter.TopN(_, _) => throw new IllegalArgumentException(
          s"stage '${st.name}': top-N filters rank the whole cohort and need " +
            "the batch engine; streaming supports score-threshold filters")
        case _ => ()
      }
    }
    def statsFor(stage: String, column: String, name: String): Stats = {
      val m = frozenStats.getOrElse(stage, throw new IllegalArgumentException(
        s"frozenStats has no entry for stage '$stage'"))
      m.getOrElse(name, m.getOrElse(column, throw new IllegalArgumentException(
        s"frozenStats('$stage') has no entry for criterion '$name' (column '$column')")))
    }
    // an unbounded cohort: never empty, and no top-N cutoff to collect
    val c = staged.cascade(stream) { (stage, _) =>
      (stage.evaluator.criteria.map { case (column, cr) =>
        column -> statsFor(stage.name, column, cr.name) }.toMap, Long.MaxValue)
    }
    c.df.select(staged.outputColumns(stream.columns.toSeq, c, includeDetails, ranked = false)
      .toSeq.map { case (n, e) => e.as(n) }: _*)
  }

  /** Tumbling-window aggregation with late-data handling: counts + value
    * stats per (event_type, window). The streaming analogue of the batch
    * q51_event_windows query. `tsCol` must be a TimestampType column. */
  def windowedEventStats(
      stream: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      windowLen: String = "1 hour",
      watermark: String = "2 hours"
  ): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
        avg("value").as("avg_value"))

  /** Sliding-window variant (windowLen every slide). */
  def slidingEventStats(
      stream: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      windowLen: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"
  ): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(typeCol))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Streaming exact deduplication: drop rows whose canonical text
    * fingerprint (same canonicalization as the batch
    * [[graft.ops.Dedup]] operators) was already seen within the
    * watermark horizon. `dropDuplicatesWithinWatermark` lets the state
    * store evict expired fingerprints, so state is bounded by the
    * duplicate-arrival window instead of growing with the stream —
    * the only viable shape for an unbounded ingest pipeline. */
  def dedupStream(
      stream: DataFrame,
      textCol: String,
      tsCol: String = "ts",
      watermark: String = "1 hour"
  ): DataFrame =
    stream
      .withColumn("__fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  // ------------------------------------------------- stateful sessionize

  case class SessionEvent(
      user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(sessionStartUs: Long, lastUs: Long, nEvents: Long, sumValue: Double)
  case class SessionOut(
      user_id: Long, session_start_us: Long, session_end_us: Long,
      n_events: Long, sum_value: Double)

  // ------------------------------------------------- streaming sequence packing

  case class PackInput(shard: Long, doc_id: Long, n_tok: Long, ord: Long)
  case class PackOut(
      shard: Long, doc_id: Long, n_tok: Long, offset: Long,
      chunk_first: Long, chunk_last: Long, n_chunks: Long)

  /** STREAMING sequence packing — continuous epoch construction: as docs
    * arrive (already shuffled/sharded upstream), each shard's running
    * token offset lives in `flatMapGroupsWithState` state, so every doc
    * gets the same exclusive prefix offset and chunk span
    * ([[graft.ops.Packing.sequencePacking]] arithmetic: `chunk_first =
    * offset div budget`, straddles span multiple chunks) that a batch
    * pack of the full arrival order would assign — bit-equal to the
    * batch operator over the concatenated batches (StreamingSpec-pinned).
    * Within one micro-batch a shard's rows order by (ord, doc_id);
    * across batches arrival order IS the epoch order, exactly how a
    * live ingest feeds a training run. State per shard is ONE long —
    * bounded by shard count, not stream length. */
  def packingStream(
      docs: org.apache.spark.sql.Dataset[PackInput],
      budget: Long
  ): org.apache.spark.sql.Dataset[PackOut] = {
    require(budget > 0, "token budget must be positive")
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[Long, PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, rows: Iterator[PackInput], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r.ord, r.doc_id)).map { r =>
            val o = off
            off += r.n_tok
            val last = o + math.max(r.n_tok, 1L) - 1L
            PackOut(shard, r.doc_id, r.n_tok, o, o / budget, last / budget,
              last / budget - o / budget + 1L)
          }
          state.update(off)
          out.iterator
      }
  }

  // ------------------------------------------------- latest-wins upsert view

  case class LatestState(versionUs: Long, eventId: Long, value: Double)
  case class LatestOut(
      user_id: Long, ts_us: Long, event_id: Long, value: Double)

  /** Streaming latest-wins compaction — the unbounded analogue of
    * [[graft.ops.Snapshot.latestByKey]]: maintain, per key, the row with
    * the highest (version, id) and emit the current winner whenever it
    * changes (run with `outputMode("update")`; an upsert sink keyed by
    * `user_id` then holds exactly the batch `latestByKey` result at every
    * point in time). Same tie contract as the batch op: version ties
    * break toward the LARGER event id. State is one small record per key
    * — bounded by key cardinality, not stream length. */
  def latestStream(
      events: org.apache.spark.sql.Dataset[SessionEvent]
  ): org.apache.spark.sql.Dataset[LatestOut] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, LatestOut](GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[LatestState]) =>
          val best = rows.foldLeft(state.getOption) { (acc, e) =>
            val v = us(e.ts)
            acc match {
              case Some(s) if s.versionUs > v ||
                (s.versionUs == v && s.eventId > e.event_id) => acc
              case _ => Some(LatestState(v, e.event_id, e.value))
            }
          }.get // rows is non-empty when no timeout is configured
          state.update(best)
          LatestOut(userId, best.versionUs, best.eventId, best.value)
      }
  }

  /** Stateful per-user sessionization with an inactivity gap — the
    * streaming analogue of the batch q33_sessionize query, built on
    * `flatMapGroupsWithState` (the engine's custom-state extension point).
    *
    * A session closes when (a) a same-user event arrives more than `gapUs`
    * after the previous one, or (b) the event-time watermark passes
    * last-event-time + gap (EventTimeTimeout). Event-time timeouts — not
    * processing-time — keep the micro-batch engine quiescent between
    * arrivals: a processing-time timeout re-triggers empty batches in a
    * busy loop on an idle stream. */
  def sessionize(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gapUs: Long = 1800L * 1000000L,
      watermarkDelay: String = "1 hour"
  ): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.sessionStartUs, s.lastUs, s.nEvents, s.sumValue))
          } else {
            val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var current = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val eUs = us(e.ts)
              current match {
                case Some(s) if eUs - s.lastUs <= gapUs =>
                  current = Some(s.copy(lastUs = eUs,
                    nEvents = s.nEvents + 1, sumValue = s.sumValue + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.sessionStartUs, s.lastUs, s.nEvents, s.sumValue)
                  current = Some(SessionState(eUs, eUs, 1L, e.value))
                case None =>
                  current = Some(SessionState(eUs, eUs, 1L, e.value))
              }
            }
            current.foreach { s =>
              state.update(s)
              // clamped past the watermark: a timeout at or below it is an
              // IllegalArgumentException that kills the query (reachable
              // when gap < watermarkDelay — the funnelStream clamp)
              state.setTimeoutTimestamp(math.max(
                (s.lastUs + gapUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            closed.result().iterator
          }
      }
  }

  // --------------------------- stateful session stats + funnel progress

  case class TypedEvent(
      user_id: Long, event_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class SessionStatsState(
      startUs: Long, lastUs: Long, nEvents: Long, types: Seq[String])
  case class SessionStatsOut(
      user_id: Long, start_us: Long, end_us: Long, duration_us: Long,
      n_events: Long, n_types: Long)

  /** Streaming analogue of [[graft.ops.Sessions.sessionStats]]: one
    * stats row per CLOSED session — closed by a same-user event arriving
    * beyond the gap, or by the event-time watermark passing
    * last-event-time + gap (EventTimeTimeout, so an idle stream stays
    * quiescent — the [[sessionize]] convention). State per user is O(1)
    * counters plus the OPEN session's distinct event-type list, bounded
    * by the event-type vocabulary. Ties inside a batch sort by
    * (event time, event_id), the batch operator's exact order.
    * Spec-pinned differential: closed sessions ≡ the batch operator's
    * rows on a replayed, watermark-flushed log. */
  def sessionStatsStream(
      events: org.apache.spark.sql.Dataset[TypedEvent],
      gapUs: Long = 1800L * 1000000L,
      watermarkDelay: String = "1 hour"
  ): org.apache.spark.sql.Dataset[SessionStatsOut] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    def close(u: Long, s: SessionStatsState) = SessionStatsOut(
      u, s.startUs, s.lastUs, s.lastUs - s.startUs, s.nEvents, s.types.size.toLong)
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionStatsState, SessionStatsOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[SessionStatsState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(userId, s))
          } else {
            val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var current = state.getOption
            val closed = Seq.newBuilder[SessionStatsOut]
            sorted.foreach { e =>
              val eUs = us(e.ts)
              current match {
                case Some(s) if eUs - s.lastUs <= gapUs =>
                  current = Some(s.copy(lastUs = eUs, nEvents = s.nEvents + 1,
                    types = if (s.types.contains(e.event_type)) s.types
                            else s.types :+ e.event_type))
                case Some(s) =>
                  closed += close(userId, s)
                  current = Some(SessionStatsState(eUs, eUs, 1L, Seq(e.event_type)))
                case None =>
                  current = Some(SessionStatsState(eUs, eUs, 1L, Seq(e.event_type)))
              }
            }
            current.foreach { s =>
              state.update(s)
              // clamped past the watermark: a timeout at or below it is an
              // IllegalArgumentException that kills the query (reachable
              // when gap < watermarkDelay — the funnelStream clamp)
              state.setTimeoutTimestamp(math.max(
                (s.lastUs + gapUs) / 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            closed.result().iterator
          }
      }
  }

  case class FunnelState(nextStep: Int, tPrev: Long)
  case class FunnelOut(user_id: Long, step_idx: Long, t_conv_us: Long)

  /** Streaming funnel progress — the per-user ordered-step state machine
    * behind [[graft.ops.Sessions.funnel]]: emits (user, step_idx,
    * conversion time) EXACTLY ONCE when a user first reaches each step
    * (event type == steps(nextStep) at-or-after the previous step's
    * conversion time, `>=` like the batch contract), so counting
    * distinct users per emitted step_idx reproduces the batch funnel's
    * `n_users` column with no dedup pass. State per user is two scalars.
    *
    * CONTRACT: events must arrive per-user in event-time order ACROSS
    * batches (within a batch they are sorted here) — the conditional-min
    * chain is order-sensitive, and an out-of-order earlier event can
    * retroactively enable conversions an incremental pass already
    * rejected. Replay logs through a time-ordered source, or accept
    * drift bounded by the source's disorder.
    *
    * STATE LIFETIME: by default state is two scalars per EVER-SEEN user
    * and lives forever — fine for bounded replays, unbounded on a
    * long-lived production stream. Pass `idleTtlUs` to switch to an
    * event-time TTL (EventTimeTimeout; the input gains a
    * `watermarkDelay` watermark on `ts`): a user idle past the horizon
    * — completed-the-last-step and abandoned alike — has state dropped
    * silently once the watermark passes last-seen + TTL. The drift this
    * buys is explicit: a dropped user who re-appears re-enters at step
    * 0 and re-emits, so size the TTL to the funnel's real conversion
    * horizon (and note events later than the watermark were outside the
    * in-order contract already). */
  def funnelStream(
      events: org.apache.spark.sql.Dataset[TypedEvent],
      steps: Seq[String],
      idleTtlUs: Option[Long] = None,
      watermarkDelay: String = "1 hour"
  ): org.apache.spark.sql.Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnelStream needs at least one step")
    require(steps.distinct.size == steps.size, "funnelStream steps must be distinct")
    require(idleTtlUs.forall(_ > 0L), "idleTtlUs must be positive when set")
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val src = if (idleTtlUs.isDefined) events.withWatermark("ts", watermarkDelay) else events
    val timeoutConf =
      if (idleTtlUs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update(), timeoutConf) {
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the TTL horizon: emit nothing, free the two scalars
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            var s = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
            val advanced = Seq.newBuilder[FunnelOut]
            sorted.foreach { e =>
              if (s.nextStep < steps.length && e.event_type == steps(s.nextStep)) {
                val eUs = us(e.ts)
                if (s.nextStep == 0 || eUs >= s.tPrev) {
                  advanced += FunnelOut(userId, s.nextStep.toLong, eUs)
                  s = FunnelState(s.nextStep + 1, eUs)
                }
              }
            }
            state.update(s)
            for (ttl <- idleTtlUs; last <- sorted.lastOption) {
              // Spark refuses a timeout at or below the current watermark
              // (IllegalArgumentException kills the query) — reachable
              // when the TTL is small relative to watermarkDelay or a
              // slightly-late batch arrives inside the watermark. Clamp
              // to watermark + 1ms: the state then times out at the next
              // watermark advance, the earliest Spark allows.
              val wantedMs = (us(last.ts) + ttl) / 1000L
              state.setTimeoutTimestamp(
                math.max(wantedMs, state.getCurrentWatermarkMs() + 1L))
            }
            advanced.result().iterator
          }
      }
  }

  /** Streaming benchmark decontamination: drops every document whose
    * text probes positive against a [[graft.ops.Dedup.spanBloomSketch]]
    * of the benchmark's verbatim span windows. The probe is one
    * codegen'd map-side predicate ([[graft.ops.Dedup
    * .spanContaminatedFlag]]) — no shuffle, no state, legal in any
    * output mode — so an ingest pipeline can refuse contaminated
    * documents at parse time, before they ever land in the corpus.
    * Conservative by construction: the sketch has no false negatives
    * (every truly contaminated document is dropped) and its false
    * positives (bounded by the sketch's fpp) drop a small extra sliver —
    * the right trade for an append-only ingest, where a batch
    * exact-verify pass ([[graft.ops.Dedup.spanBloomDecontaminate]]) can
    * always reclaim survivors later. */
  def decontaminateStream(
      docs: DataFrame,
      textCol: String,
      benchSketch: Array[Byte],
      span: Int = 13
  ): DataFrame =
    docs.filter(!graft.ops.Dedup.spanContaminatedFlag(col(textCol), benchSketch, span))

  /** END-TO-END streaming image ingest — the executable daily-crawl
    * story: each micro-batch's payloads are hashed
    * ([[graft.ops.Multimodal.imageHashes]], stateless decode), vetted
    * against the PERSISTED hash index with
    * [[graft.ops.Dedup.incrementalImageDedup]] semantics (admit only
    * rows whose hash class matches nothing in the index exactly or
    * within `maxHamming`), and the admissions are APPENDED to the index
    * — so batch N+1 dedups against the original index PLUS every earlier
    * batch's admissions. Runs as `foreachBatch`: inside the hook the
    * batch frame is ordinary batch data, so the exact batch operator —
    * not a re-implementation — does the vetting (streamed admissions are
    * bit-identical to a sequential batch replay, StreamingSpec-pinned).
    *
    * Scale shape per batch: the index is read as HASHES ONLY (the
    * persisted 8-byte-pairs table — payload bytes never travel), the
    * band join is cross-side only, and the append writes just the
    * admitted rows. Within one batch, members of one new hash class are
    * all admitted (class-level vetting, the batch operator's contract);
    * undecodable payloads (null hashes) are excluded — route them
    * explicitly if the pipeline wants them.
    *
    * The caller owns checkpointing (`.option("checkpointLocation", …)` on
    * a real deployment) and starting: this returns the configured
    * `DataStreamWriter`; call `.start()` and await. `indexPath` need not
    * exist yet — an absent index admits everything in batch 0 and is
    * created by the first append.
    *
    * Failure/replay semantics: EXACTLY-ONCE per micro-batch. Each
    * batch's admitted rows and its batch-id fence publish in one
    * marker-fenced commit ([[ingestBatch]]): a retried batch that finds
    * its fence no-ops, a crash mid-commit is completed by the next
    * call's recovery preamble, and an unmarked stage is discarded with
    * the live files untouched — so signature-row counts stay exact and
    * the file set never bloats under replays. (The vetting was already
    * IDEMPOTENT at hash-class level — a replayed batch finds its
    * classes in the index and admits nothing — so correctness never
    * depended on the fence; the fence keeps the COUNTS honest.) The
    * same holds for [[imageIngestStream256]], [[audioIngestStream]],
    * [[videoIngestStream]], and [[textIngestStream]]. */
  def imageIngestStream(
      images: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      maxHamming: Int = 3
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestWith(images, indexPath,
      graft.ops.Multimodal.imageHashes(_, idCol, payloadCol),
      graft.ops.Dedup.incrementalImageDedup(_, _, idCol, maxHamming))

  /** [[imageIngestStream]] over the 256-bit gradient hash — the variant
    * whose band-bucket occupancy stays O(1) however big the standing
    * index grows (see [[graft.ops.Dedup.imageNearDupPairs256]]); the
    * persisted index holds (id, dh0..dh7). */
  def imageIngestStream256(
      images: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      maxHamming: Int = 7,
      nBands: Int = 8
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestWith(images, indexPath,
      graft.ops.Multimodal.imageHashes256(_, idCol, payloadCol),
      graft.ops.Dedup.incrementalImageDedup256(_, _, idCol, maxHamming, nBands))

  /** Streaming AUDIO ingest against a persisted fingerprint index — the
    * [[imageIngestStream]] loop over energy fingerprints: each
    * micro-batch's WAV payloads are fingerprinted
    * ([[graft.ops.Multimodal.audioFingerprints]], stateless decode),
    * vetted against the persisted `(id, afp_hi, afp_lo)` index with the
    * exact batch [[graft.ops.Dedup.incrementalAudioDedup]] operator, and
    * admissions append — so a re-leveled or re-encoded copy of any
    * earlier clip (index or prior batch) is refused at ingest. Same
    * idempotence/replay contract as the image/text loops (class-level
    * vetting; a replayed batch re-admits nothing). */
  def audioIngestStream(
      clips: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      maxHamming: Int = 3
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestWith(clips, indexPath,
      graft.ops.Multimodal.audioFingerprints(_, idCol, payloadCol),
      graft.ops.Dedup.incrementalAudioDedup(_, _, idCol, maxHamming))

  /** Streaming VIDEO ingest against a persisted frame-class index: each
    * micro-batch's clips decode to per-frame 256-bit hashes
    * ([[graft.ops.Multimodal.videoFrameHashes]]), are vetted by
    * frame-set Jaccard against the persisted `(id, frame_idx, dh0..dh7)`
    * index with the exact batch
    * [[graft.ops.Dedup.incrementalVideoDedup]] operator, and admitted
    * clips' hash ROWS append — so a re-muxed or lightly-trimmed copy of
    * any earlier clip is refused at ingest. Same idempotence contract as
    * the other modalities (an admitted clip's classes are its own best
    * matcher on replay). */
  def videoIngestStream(
      clips: DataFrame,
      idCol: String,
      payloadCol: String,
      indexPath: String,
      minJaccard: Double = 0.5
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestWith(clips, indexPath,
      graft.ops.Multimodal.videoFrameHashes(_, idCol, payloadCol),
      graft.ops.Dedup.incrementalVideoDedup(_, _, idCol, minJaccard))

  /** Streaming TEXT ingest against a persisted SIGNATURE index — the
    * daily-crawl near-dup loop as Structured Streaming: each micro-batch
    * is MinHash-signed once ([[graft.ops.Dedup.polySignatures]]), vetted
    * against the persisted `(id, signature)` index with the exact batch
    * [[graft.ops.Dedup.incrementalNearDupPairsFromSigs]] operator (band
    * keys cross-side only — the index never re-hashes text and never
    * self-joins), and the admitted signatures are APPENDED so later
    * batches dedup against earlier admissions. Within-batch duplicates
    * are out of scope, same as the batch operator — pre-dedup the batch
    * if its internal repetition matters. The persisted index is
    * signatures only: 16 longs per document, never corpus text. */
  def textIngestStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      threshold: Double = 0.5,
      numPerms: Int = 16,
      bands: Int = 4,
      k: Int = 5
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestWith(docs, indexPath,
      batch => graft.ops.Dedup.polySignatures(batch, textCol, idCol, numPerms, k),
      (index, sigs) => {
        val hits = graft.ops.Dedup.incrementalNearDupPairsFromSigs(
            index, sigs, idCol, threshold, numPerms, bands)
          .select(col("new_id")).distinct()
        sigs.join(hits, sigs(idCol) === hits("new_id"), "left_anti")
      })

  /** Streaming ANN SERVING: a stream of query vectors answered against a
    * persisted IVF index ([[graft.ops.Similarity.saveIvfIndex]] — built
    * once, queried forever). Each micro-batch loads the tiny centroid
    * table (broadcast quantizer), probes its `nProbe` nearest cells, and
    * runs exact cosine top-k INSIDE the probed cells only
    * ([[graft.ops.Similarity.ivfTopKPreassigned]]); the index parquet is
    * partitioned by `list_id`, so the probe join reads only the probed
    * cells' files. Results `(query_id, vec_id, cosine, nn_rank)` append
    * to `outPath` — serving output, at-least-once on replay (dedup
    * downstream on (query_id, nn_rank) if exactly-once matters; unlike
    * the ingest loops there is no index mutation to keep idempotent).
    *
    * Query ids must not collide with corpus ids (the corpus-side
    * self-exclusion guard is id equality, the engine-wide convention). */
  def annQueryStream(
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      indexPath: String,
      outPath: String,
      k: Int,
      nProbe: Int = 8
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val cents = graft.ops.Similarity.loadIvfCentroids(spark, indexPath)
      val assigned = spark.read.parquet(s"$indexPath/corpus")
      graft.ops.Similarity.ivfTopKPreassigned(
          assigned, batch, k, cents, nProbe,
          queryId = queryId, queryVec = queryVec)
        .write.mode("append").parquet(outPath)
      ()
    }

  /** Streaming exact-substring SELF-DEDUP at ingest: each micro-batch's
    * documents are cut against the standing window-fingerprint index
    * (spans already seen anywhere upstream, plus within-batch repeats)
    * via [[graft.ops.Dedup.selfDedupAgainstIndex]], the cleaned batch
    * appends to `outPath`, and the batch's first-seen fingerprints
    * append to `indexPath` — so boilerplate is cut the moment its
    * second copy ARRIVES, before it ever lands in the corpus. With
    * batches in increasing-id order the composed output equals one
    * batch [[graft.ops.Dedup.selfDedupSpans]] over the union
    * (StreamingSpec differential). Index grows one 16-byte row per
    * distinct window ever seen; the per-batch cost is the batch's own
    * window pass plus two hash joins against the index.
    *
    * Both sinks are VERSIONED per batch (`v<batchId>` subdirs,
    * overwrite) and each batch reads only index versions STRICTLY
    * BELOW its own id — the [[scd2Stream]] replay rule: a retried
    * batch must not find its own first attempt's fingerprints (it
    * would cut every window of its own documents). Readers union the
    * subdirs (`spark.read.option("recursiveFileLookup", "true")
    * .parquet(outPath)`). */
  def spanDedupStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      outPath: String,
      span: Int = 13
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val root = new org.apache.hadoop.fs.Path(indexPath)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val standing =
        if (!fs.exists(root)) None
        else {
          val vs = fs.listStatus(root).map(_.getPath.getName)
            .filter(_.matches("v\\d+"))
            .filter(_.drop(1).toLong < batchId)
          if (vs.isEmpty) None
          else Some(spark.read.parquet(vs.map(v => s"$indexPath/$v"): _*))
        }
      val (cleaned, newFps) = graft.ops.Dedup.selfDedupAgainstIndex(
        batch, textCol, idCol, span, standing)
      cleaned.write.mode("overwrite").parquet(f"$outPath/v$batchId%09d")
      newFps.write.mode("overwrite").parquet(f"$indexPath/v$batchId%09d")
      ()
    }

  /** OFFLINE maintenance for [[spanDedupStream]]'s fingerprint index:
    * fold every version STRICTLY BELOW `upToBatchId` into one distinct
    * set written as the highest folded version — readers of any batch ≥
    * `upToBatchId` see the identical fingerprint set through one file
    * listing instead of thousands. Run it with the stream STOPPED and
    * only for batch ids at-or-below the stream's committed checkpoint:
    * replays of batches older than the compaction horizon are no longer
    * possible afterwards (their strictly-below read would see fps they
    * must not).
    *
    * Crash safety: the distinct union stages OUTSIDE the version
    * namespace (`compact_staging` — invisible to readers); a `_TARGET`
    * marker written INTO the staged dir (after the stage commits)
    * records the target name and the full superseded-version list, and
    * from that point the stage is authoritative — the commit sequence
    * (delete superseded versions, rename staging to the target) is
    * idempotent, so a crash anywhere is recovered by the next call's
    * preamble replaying it; a stage WITHOUT a marker is an incomplete
    * write and is discarded (the source versions are all still
    * present). The marker file rides the rename and is ignored by
    * parquet readers (underscore prefix, like `_SUCCESS`). */
  def compactSpanIndex(
      spark: SparkSession,
      indexPath: String,
      upToBatchId: Long
  ): Unit =
    foldSpanVersions(spark, indexPath, upToBatchId, minVersions = 2, identity)

  /** TAKEDOWN from [[spanDedupStream]]'s fingerprint index: fold every
    * version strictly below `upToBatchId` into one version (the
    * [[compactSpanIndex]] staged-marker machinery) EXCLUDING the window
    * fingerprints derivable from `removedDocs` — once a document's text
    * must be forgotten, fingerprints computed from it must go too. Run
    * with the stream stopped and `upToBatchId` past its committed
    * checkpoint, so every standing version folds.
    *
    * Over-deletion is the SAFE direction here: a removed hash that was
    * also reachable from retained content merely stops suppressing
    * future repeats of that content (a dedup-quality cost), while an
    * under-deletion would retain forgotten material — so ALL of the
    * removed documents' window hashes go, shared or not. */
  def removeFromSpanIndex(
      spark: SparkSession,
      indexPath: String,
      upToBatchId: Long,
      removedDocs: DataFrame,
      textCol: String,
      idCol: String,
      span: Int = 13
  ): Unit = {
    val rmH = graft.ops.Dedup.windowHashes(removedDocs, textCol, idCol, span)
    foldSpanVersions(spark, indexPath, upToBatchId, minVersions = 1,
      _.join(broadcast(rmH), Seq("h"), "left_anti"))
  }

  /** The shared fold: crash-recover any pending staged compaction, then
    * union-distinct the versions strictly below `upToBatchId`, apply
    * `transform`, and publish as the highest folded version through the
    * authoritative `_TARGET` marker (idempotent commit replay — see
    * [[compactSpanIndex]]'s scaladoc for the full contract). */
  private def foldSpanVersions(
      spark: SparkSession,
      indexPath: String,
      upToBatchId: Long,
      minVersions: Int,
      transform: DataFrame => DataFrame
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val staging = new org.apache.hadoop.fs.Path(indexPath, "compact_staging")
    val marker = new org.apache.hadoop.fs.Path(staging, "_TARGET")
    def commit(): Unit = {
      val lines = new String(org.apache.hadoop.io.IOUtils
        .readFullyToByteArray(fs.open(marker)), "UTF-8").split("\n").map(_.trim)
      val target = lines.head
      lines.tail.filter(_.nonEmpty).foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(indexPath, v), true)
      }
      fs.rename(staging, new org.apache.hadoop.fs.Path(indexPath, target))
      ()
    }
    // crash recovery before any new work
    if (fs.exists(marker)) commit()
    else if (fs.exists(staging)) fs.delete(staging, true)
    val vs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .filter(_.drop(1).toLong < upToBatchId)
      .sorted
    if (vs.length < minVersions) return
    transform(spark.read.parquet(vs.map(v => s"$indexPath/$v"): _*).distinct())
      .write.mode("overwrite").parquet(staging.toString)
    graft.ops.IndexCommit.atomicWrite(fs, marker,
      (vs.last +: vs).mkString("\n").getBytes("UTF-8"))
    commit()
  }

  /** Streaming LEXICAL SERVING: a stream of text queries answered
    * against a persisted BM25 index
    * ([[graft.ops.Retrieval.saveBm25Index]] — built once, queried
    * forever), the lexical twin of [[annQueryStream]]. Each micro-batch
    * prunes the postings/terms reads to its own vocabulary's
    * `term_bucket` partitions and scores through the same shared tail
    * as the ad-hoc search (bit-identical results, spec-pinned).
    * Results `(query_id, doc_id, score, rank)` append to `outPath` —
    * at-least-once on replay, no index mutation to keep idempotent. */
  def bm25QueryStream(
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      indexPath: String,
      outPath: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      graft.ops.Retrieval.bm25SearchPreindexed(
          spark, indexPath, batch, queryIdCol, queryTextCol, k1, b, topK)
        .write.mode("append").parquet(outPath)
      ()
    }

  /** Streaming HYBRID query serving — the [[bm25QueryStream]] /
    * [[annQueryStream]] twin for
    * [[graft.ops.Retrieval.hybridSearchPreindexed]]: each micro-batch
    * of `(id, text, vector)` queries answers from BOTH persisted
    * indexes (keyword buckets + probed IVF cells, each read
    * partition-pruned) fused by reciprocal rank, and the fused page
    * appends to `outPath`. Per-batch results equal the batch operator
    * over the same queries (spec-pinned) — serving is stateless over
    * the frozen artifacts. */
  def hybridQueryStream(
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      queryVecCol: String,
      bm25IndexPath: String,
      ivfIndexPath: String,
      outPath: String,
      topK: Int = 10,
      candK: Int = 20,
      rrfK: Int = 60,
      nProbe: Int = 8
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      graft.ops.Retrieval.hybridSearchPreindexed(
          spark, bm25IndexPath, ivfIndexPath, batch,
          queryIdCol, queryTextCol, queryVecCol,
          topK = topK, candK = candK, rrfK = rrfK, nProbe = nProbe)
        .write.mode("append").parquet(outPath)
      ()
    }

  /** Streaming LLM-as-judge consensus with CUMULATIVE labeler
    * calibration: each micro-batch of `(item, judge, label)` votes is
    * scored by [[graft.ops.Judges.consensusWithCounters]] against the
    * judges' STANDING track record (exact agreement counters
    * accumulated over every batch so far — mergeable by plain integer
    * addition because raw majorities are item-local, so the standing
    * counters equal one batch [[graft.ops.Judges.judgeCounters]] over
    * the union, exactly), the batch's consensus rows append to
    * `outPath`, and the merged counters write as the next snapshot.
    * A judge's long-run reliability follows it into every new batch —
    * the md5-coin judge stays discounted on items it has never seen.
    *
    * Counters are versioned (`statePath/v<batchId>`, the [[scd2Stream]]
    * layout and strictly-below-batchId replay rule: a retried batch
    * merges onto its PREDECESSOR snapshot, never its own first
    * attempt's output, so agreement never double-counts). Readers take
    * [[loadScd2History]]; [[pruneVersions]] applies for retention.
    *
    * Contract: an item's FULL panel arrives within one micro-batch
    * (group votes upstream — an item split across batches would get
    * two partial consensus rows; the output is append-only serving
    * data, dedup downstream on `itemCol` if exactly-once matters). */
  def judgeStream(
      votes: DataFrame,
      itemCol: String,
      judgeCol: String,
      labelCol: String,
      statePath: String,
      outPath: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    votes.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // the batch feeds TWO consumers (counters, consensus) — persist so
      // both read one evaluation (micro-batches are offset-pinned, but
      // the cache removes even the re-read). Plain persist/unpersist, NOT
      // Checkpoints.trackCache: that registry drains only at freeAll, a
      // barrier a long-running stream never reaches, so its strong
      // per-batch references would grow driver memory for the stream's
      // lifetime. unpersist() below clears the CacheManager entry too.
      val b = batch.persist()
      val bc = graft.ops.Judges.judgeCounters(b, itemCol, judgeCol, labelCol)
      val merged = loadScd2History(spark, statePath, beforeVersion = Some(batchId)) match {
        case Some(h) => h.select(col(judgeCol), col("n_judged"), col("n_agree"))
          .unionByName(bc)
          .groupBy(judgeCol)
          .agg(sum(col("n_judged")).as("n_judged"), sum(col("n_agree")).as("n_agree"))
        case None => bc
      }
      merged.write.mode("overwrite").parquet(f"$statePath/v$batchId%09d")
      // score against the JUST-MERGED counters (read back: the write
      // above is the one evaluation of the merge plan)
      val counters = spark.read.parquet(f"$statePath/v$batchId%09d")
      graft.ops.Judges.consensusWithCounters(
          b, counters, itemCol, judgeCol, labelCol)
        .write.mode("append").parquet(outPath)
      b.unpersist(blocking = false)
      ()
    }

  /** Streaming TOKENIZE at ingest: each micro-batch of documents
    * encodes to piece-id streams under a PERSISTED tokenizer artifact
    * ([[graft.ops.UnigramTrain.saveTokenizer]] — trained once, frozen),
    * appending `(idCol, n_pieces, piece_ids)` to `outPath` — the
    * tokenize step of "tokenize, shuffle, pack" running as documents
    * ARRIVE, with ids guaranteed stable across batches because they are
    * part of the artifact, never re-derived. The artifact is
    * vocab-bounded, so the per-batch load is one tiny parquet read
    * (and a torn artifact refuses loudly through
    * [[graft.ops.UnigramTrain.loadTokenizer]]'s count check rather
    * than encoding with half a vocabulary). At-least-once on replay —
    * dedup downstream on `idCol` if exactly-once matters; like the
    * serving query streams there is no index mutation to keep
    * idempotent. */
  def tokenizeStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tokenizerPath: String,
      outPath: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      graft.ops.UnigramTrain.encodeDocsPreindexed(
          spark, tokenizerPath, batch, idCol, textCol)
        .write.mode("append").parquet(outPath)
      ()
    }

  /** Streaming VOCABULARY-DRIFT monitor: each micro-batch's token
    * distribution is scored against a PERSISTED reference vocabulary
    * ([[graft.ops.Drift.tokenCounts]] written once from the blessed
    * snapshot), and the batch's top-k PSI-moving tokens append to
    * `outPath` with their `batch_id` — the observability loop that
    * names a crawler regression (new boilerplate phrase, encoding bug)
    * within one micro-batch of it appearing. Per batch the cost is one
    * count aggregation of the BATCH plus a reference-vocab-bounded
    * join; the reference is never recounted. */
  def driftMonitorStream(
      docs: DataFrame,
      textCol: String,
      refCountsPath: String,
      outPath: String,
      k: Int = 50
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val ref = spark.read.parquet(refCountsPath)
        .select(col("token"), col("cnt").as("n_ref"))
      graft.ops.Drift.tokenDriftFromCounts(
          ref, graft.ops.Drift.tokenCounts(batch, textCol, "n_cur"), k)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outPath)
      ()
    }

  /** TAKEDOWN from a FLAT ingest index — the persisted signature/hash
    * frames the [[textIngestStream]] / [[imageIngestStream]] /
    * [[imageIngestStream256]] / [[audioIngestStream]] /
    * [[videoIngestStream]] loops vet against (plain parquet dirs grown
    * by per-batch appends): rewrite the index without `removedIds`'
    * rows and publish as a crash-safe staged swap. Once a document's
    * content must be forgotten, its minhash signature / perceptual
    * hash must go too (they are content-derived), and as a side effect
    * the rewrite FOLDS every append-accumulated small file-set into
    * one — this is also the flat indexes' compaction point (the
    * [[compactSpanIndex]] sibling for unversioned layouts).
    *
    * Crash safety: the filtered copy writes under the hidden
    * `_tk_staging` dir (readers of the live index never see it), and
    * the `_COMMIT` marker naming the doomed live files is the point of
    * no return — [[recoverIngestIndex]] replays a marked stage and
    * discards an unmarked one, and both entry points run it as their
    * preamble. Idempotent replay: deleting an already-deleted file and
    * moving an already-moved one are no-ops.
    *
    * Concurrency contract: run with the ingest stream STOPPED (the
    * [[compactSpanIndex]] rule — one writer per index root). */
  def removeFromIngestIndex(
      spark: SparkSession,
      indexPath: String,
      removedIds: DataFrame,
      idCol: String
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    recoverIngestIndex(spark, indexPath)
    // a crashed stream may have left a MARKED append stage: publish it
    // first, so the takedown's rewrite sees (and filters) those rows too
    recoverIngestAppend(spark, indexPath)
    // an index with no data files (never appended, or fully emptied by a
    // previous takedown whose staged write produced none) has nothing to
    // rewrite — and asking parquet to infer its schema would throw
    val hasData = fs.listStatus(root).exists(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    if (!hasData) return
    stageIngestTakedown(spark, indexPath, removedIds, idCol)
    ingestCommit(fs, root)
  }

  /** Replay a pending [[removeFromIngestIndex]] commit left by a crash
    * (marked stage = authoritative), or discard an incomplete stage.
    * Returns true iff a pending commit was completed — the interrupted
    * takedown FINISHED and must not be retried. Call after an unclean
    * shutdown before restarting the ingest stream. */
  def recoverIngestIndex(spark: SparkSession, indexPath: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(root, "_tk_staging")
    if (!fs.exists(staging)) return false
    if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_COMMIT"))) {
      ingestCommit(fs, root); true
    } else {
      fs.delete(staging, true); false
    }
  }

  /** The stage-then-mark half of [[removeFromIngestIndex]], split out so
    * crash-recovery specs can stop the world exactly at the marker (the
    * [[graft.ops.IndexCommit.writeMarker]] convention). */
  private[graft] def stageIngestTakedown(
      spark: SparkSession,
      indexPath: String,
      removedIds: DataFrame,
      idCol: String
  ): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(root, "_tk_staging")
    // the doomed file list is FROZEN at stage time: files the commit
    // must delete are exactly the live data files the filtered copy
    // was derived from
    val live = fs.listStatus(root)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.getName)
    spark.read.parquet(indexPath)
      .join(broadcast(removedIds.select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
      .write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(staging, "data").toString)
    graft.ops.IndexCommit.atomicWrite(fs,
      new org.apache.hadoop.fs.Path(staging, "_COMMIT"),
      live.mkString("\n").getBytes("UTF-8"))
  }

  /** The idempotent commit the `_COMMIT` marker describes: delete the
    * doomed live files, move the staged data files up, drop the
    * staging dir. */
  private def ingestCommit(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path
  ): Unit = {
    val staging = new org.apache.hadoop.fs.Path(root, "_tk_staging")
    val marker = new org.apache.hadoop.fs.Path(staging, "_COMMIT")
    val doomed = new String(org.apache.hadoop.io.IOUtils
      .readFullyToByteArray(fs.open(marker)), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty)
    doomed.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(root, f), false))
    val data = new org.apache.hadoop.fs.Path(staging, "data")
    if (fs.exists(data)) fs.listStatus(data).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && !n.startsWith("_") && !n.startsWith(".")) {
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(root, n))
        ()
      }
    }
    fs.delete(staging, true)
    ()
  }

  /** Streaming EMBEDDING-DRIFT monitor — the [[driftMonitorStream]]
    * sibling in embedding space: each micro-batch of vectors assigns to
    * the FROZEN quantizer's cells (centroids loaded from a persisted
    * IVF index, [[graft.ops.Similarity.saveIvfIndex]]), and its
    * add-one-smoothed PSI contributions against a PERSISTED reference
    * cell histogram ([[graft.ops.Drift.cellCounts]] written once from
    * the blessed snapshot) append to `outPath` with the `batch_id` —
    * the observability loop that names an embedding-model regression or
    * a content-cluster shift within one micro-batch. Per batch the cost
    * is one cell-count aggregation of the BATCH plus a ≤nLists-row
    * join; the reference is never recounted. */
  def embeddingDriftStream(
      vecs: DataFrame,
      vecCol: String,
      ivfIndexPath: String,
      refCountsPath: String,
      outPath: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val cents = graft.ops.Similarity.loadIvfCentroids(spark, ivfIndexPath)
      val ref = spark.read.parquet(refCountsPath)
        .select(col("bin"), col("cnt").as("n_ref"))
      graft.ops.Drift.driftFromCounts(ref,
          graft.ops.Drift.cellCounts(batch, vecCol, cents, "n_cur"))
        .withColumnRenamed("bin", "cell")
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outPath)
      ()
    }

  /** Streaming SHARD DELIVERY — documents flow continuously into a
    * standing [[graft.io.Layout.writeShardsWithManifest]] export: each
    * micro-batch appends through the marker-fenced
    * [[graft.io.Layout.appendShardsWithManifest]] with the BATCH ID as
    * the exactly-once tag (the tag's row merges into the `batches/`
    * table by the same atomic marker replay as the data, so a replayed
    * batch after a crash sees its tag and no-ops — the delivery's
    * manifest never double-counts). The export root must exist (seed it
    * with one write-once call — the routing recipe lives in its
    * manifest); readers [[graft.io.Layout.verifyShards]]-check as ever.
    * One writer per export root (the IndexCommit contract — don't run
    * compactions mid-stream). */
  def exportStream(
      docs: DataFrame,
      exportPath: String,
      filesPerShard: Int = 1
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.io.Layout.appendShardsWithManifest(
        batch, exportPath, filesPerShard, batchTag = Some(batchId))
      ()
    }

  /** Streaming LEXICAL INDEXING — documents flow continuously into a
    * standing [[graft.ops.Retrieval.saveBm25Index]] postings tree: each
    * micro-batch appends through the O(increment) marker-fenced
    * [[graft.ops.Retrieval.appendToBm25Index]] with the batch id as the
    * exactly-once tag, so a crash-retried batch never double-counts a
    * document's postings (df and stats would silently inflate
    * otherwise — worse than duplicate rows, it skews every score).
    * Serving reads ([[bm25QueryStream]], `bm25SearchPreindexed`) see
    * each batch as it commits. Seed the index once with `saveBm25Index`
    * (even over an empty corpus); one writer per index root — run
    * compactions with the stream stopped. */
  def bm25IndexStream(
      docs: DataFrame,
      textCol: String,
      indexPath: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.ops.Retrieval.appendToBm25Index(
        batch, textCol, indexPath, batchTag = Some(batchId))
      ()
    }

  /** [[bm25IndexStream]] for the FUSED index + forward-sidecar family
    * ([[graft.ops.Retrieval.saveBm25WithForward]]): each micro-batch
    * appends BOTH artifacts under ONE marker with the batch id as the
    * shared exactly-once fence — so served pseudo-relevance feedback
    * ([[graft.ops.Retrieval.bm25SearchPrfPreindexed]]) stays exact
    * over a STREAMED corpus, which the index-only stream cannot
    * guarantee (its sidecar would silently fall behind every batch).
    * Seed once with `saveBm25WithForward` (even over an empty corpus);
    * one writer per index root; run compactions
    * ([[graft.ops.Retrieval.compactBm25WithForward]]) with the stream
    * stopped. */
  def bm25WithForwardStream(
      docs: DataFrame,
      textCol: String,
      indexPath: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.ops.Retrieval.appendToBm25WithForward(
        batch, textCol, indexPath, batchTag = Some(batchId))
      ()
    }

  /** Streaming CHUNK-GRAIN INDEXING — the RAG ingest path as ONE
    * operator: document micro-batches chunk
    * ([[graft.ops.Retrieval.chunkText]], fixed windows with overlap)
    * into `(cid = id · maxChunksPerDoc + chunk_idx, chunk)` rows — the
    * q269/q274 provenance convention, so `cid div maxChunksPerDoc`
    * recovers the document and a doc takedown's cid set is exactly its
    * chunk range — and append to a standing chunk-grain BM25 index
    * through the marker-fenced [[graft.ops.Retrieval.appendToBm25Index]]
    * with the batch id as the exactly-once tag at DOC-BATCH grain: a
    * crash-retried document batch finds its tag and no-ops, so no
    * document's chunks ever index twice (chunk df/stats stay exact).
    * Seed once with `saveBm25Index` over the (possibly empty) chunk
    * corpus; serve with `bm25SearchPreindexed`; one writer per index
    * root. A document longer than `maxChunksPerDoc` windows refuses
    * loudly — a silent wrap would alias another document's cid space.
    * `idCol` must be an integral id in `[0, (Long.MaxValue −
    * (maxChunksPerDoc − 1)) / maxChunksPerDoc]` (every chunk's cid is
    * exact long arithmetic): a NON-castable id (a UUID/URL key) refuses
    * loudly with the [[graft.ops.Ids.withSurrogateId]] pointer — the
    * [[graft.ops.GroupTopK]] convention — rather than casting to null
    * and corrupting the chunk index, and an id outside the bound
    * refuses rather than overflowing/aliasing another doc's cid span. */
  def chunkStream(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      indexPath: String,
      chunkSize: Int = 200,
      overlap: Int = 50,
      maxChunksPerDoc: Int = 1000,
      withForward: Boolean = false
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(maxChunksPerDoc >= 1, "maxChunksPerDoc must be >= 1")
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // loud id discipline (the GroupTopK checkedId pattern): a
      // non-castable id would null every cid silently; an id past
      // Long.MaxValue / maxChunksPerDoc would overflow into another
      // document's cid span. The guard rides the consumed column so
      // Catalyst cannot prune it away.
      val idLong = col(idCol).cast("long")
      // the LAST chunk's cid (id·max + max−1) must also fit in a long
      val maxId = (Long.MaxValue - (maxChunksPerDoc - 1)) / maxChunksPerDoc
      val checkedId =
        when(col(idCol).isNotNull && idLong.isNull, raise_error(concat(
          lit(s"chunkStream: id column '$idCol' must be numeric-castable " +
            "(route string keys through Ids.withSurrogateId first); got: "),
          col(idCol).cast("string"))))
        .when(idLong < 0 || idLong > maxId, raise_error(concat(
          lit(s"chunkStream: id column '$idCol' must be in [0, $maxId] " +
            s"(cid = id * $maxChunksPerDoc + chunk_idx is exact long " +
            "arithmetic); got: "),
          col(idCol).cast("string"))))
        .otherwise(idLong)
      val chunks = graft.ops.Retrieval
        .chunkText(batch, idCol, textCol, chunkSize, overlap)
        .select(
          when(col("chunk_idx") >= maxChunksPerDoc, raise_error(concat(
            lit(s"chunkStream: document '"), col(idCol).cast("string"),
            lit(s"' exceeds maxChunksPerDoc = $maxChunksPerDoc windows — "),
            lit("raise the ceiling or split upstream"))))
            .otherwise(checkedId * maxChunksPerDoc + col("chunk_idx"))
            .as("cid"),
          col("chunk"))
      // withForward: the fused append keeps a chunk-grain forward
      // sidecar in step under the same marker/fence, so served
      // chunk-grain PRF (bm25SearchPrfPreindexed over the q292 layout)
      // stays exact over the streamed corpus — seed with
      // saveBm25WithForward in that case
      if (withForward)
        graft.ops.Retrieval.appendToBm25WithForward(
          chunks, "chunk", indexPath, batchTag = Some(batchId))
      else
        graft.ops.Retrieval.appendToBm25Index(
          chunks, "chunk", indexPath, batchTag = Some(batchId))
      ()
    }
  }

  /** Streaming VECTOR INDEXING — the [[bm25IndexStream]] twin for the
    * IVF index: each micro-batch assigns against the FROZEN persisted
    * quantizer and appends cell-partitioned, exactly once per batch id.
    * Seed with [[graft.ops.Similarity.saveIvfIndex]]; retrain the
    * quantizer by rebuilding (the append never moves centroids). */
  def ivfIndexStream(
      vecs: DataFrame,
      indexPath: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.ops.Similarity.appendToIvfIndex(
        batch, indexPath, idCol, vecCol, batchTag = Some(batchId))
      ()
    }

  /** Shared foreachBatch ingest core: hash the batch, vet against the
    * persisted index, append admissions. */
  private def ingestWith(
      images: DataFrame,
      indexPath: String,
      hashFn: DataFrame => DataFrame,
      dedupFn: (DataFrame, DataFrame) => DataFrame
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    images.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingestBatch(batch, batchId, indexPath, hashFn, dedupFn)
    }

  private val IngestStagingName = "_ing_staging"
  private val IngestTagDirName = "_batches"

  /** Exactly-once fence probe for the flat ingest indexes: tags are
    * zero-byte FILES under `_batches/` (underscore-prefixed, so parquet
    * reads of the flat root never see them), created by the same marker
    * replay that publishes the batch's admitted rows — an O(1)
    * existence check per micro-batch, no table scan at all (the flat
    * layout's answer to [[graft.ops.IndexCommit.tagCommitted]]'s
    * cost contract). */
  private[graft] def ingestTagCommitted(
      fs: org.apache.hadoop.fs.FileSystem, indexPath: String,
      batchId: Long): Boolean = {
    if (fs.exists(new org.apache.hadoop.fs.Path(
        s"$indexPath/$IngestTagDirName/b$batchId"))) return true
    // folded history: a range summary left by [[compactIngestTags]]
    // covers its whole contiguous id span. The listing is bounded by
    // the compaction cadence (one range file + fences since the fold).
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/$IngestTagDirName")
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      // Try-guarded parse: a stray `range_*` entry (editor backup,
      // interrupted tooling) must not brick every subsequent
      // micro-batch's fence probe — unparseable names are ignored,
      // matching compactIngestTags' own b<id> parse.
      parseRangeName(st.getPath.getName)
        .exists { case (lo, hi) => lo <= batchId && batchId <= hi }
    }
  }

  /** `range_<lo>_<hi>` → Some((lo, hi)); anything else (including a
    * stray or corrupt `range_*`-prefixed entry) → None. */
  private def parseRangeName(n: String): Option[(Long, Long)] =
    if (!n.startsWith("range_")) None
    else {
      val p = n.split("_")
      if (p.length != 3) None
      else scala.util.Try((p(1).toLong, p(2).toLong)).toOption
    }

  /** OFFLINE maintenance for a long-lived ingest stream's fences: fold
    * the per-batch zero-byte tag files into `range_<lo>_<hi>`
    * summaries — one per CONTIGUOUS committed-id run, so even a gappy
    * history (a checkpoint restored across a skipped batch id) folds
    * to a bounded list of ranges. A summary NEVER spans a gap: the
    * missing id in the span never committed, and fencing it as done
    * would make its retry no-op and silently LOSE the batch — each
    * gap simply starts a new range. `singleRange = true` requests the
    * strict one-summary fold and refuses loudly on any gap (the
    * foreachBatch norm is sequential ids, so a gap under strict mode
    * is a real anomaly worth investigating). Crash-safe by ordering:
    * the covering summaries publish first, then the redundant entries
    * delete — a crash in between leaves extra (harmless) fences. Run
    * with the stream stopped, like every maintenance op. */
  def compactIngestTags(
      spark: SparkSession, indexPath: String,
      singleRange: Boolean = false): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/$IngestTagDirName")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return
    val entries = fs.listStatus(dir).map(_.getPath.getName)
    val ids = entries.filter(n => n.startsWith("b") && !n.startsWith("range_"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
    val ranges = entries.flatMap(parseRangeName)
    if (ids.isEmpty && ranges.isEmpty) return // nothing fences — no-op
    // already folded AND nothing stray to sweep
    if (ids.isEmpty && ranges.length == 1 && entries.length == 1) return
    val intervals = (ids.map(i => (i, i)) ++ ranges).sortBy(_._1)
    // merge touching/overlapping intervals; a gap starts a new run
    val merged = intervals.tail.foldLeft(List(intervals.head)) {
      case ((lo1, hi1) :: rest, (lo2, hi2)) if lo2 <= hi1 + 1 =>
        (lo1, math.max(hi1, hi2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
    if (singleRange && merged.length > 1) {
      val (_, hi1) = merged.head
      val (lo2, _) = merged(1)
      throw new IllegalStateException(
        s"compactIngestTags: committed batch ids jump from $hi1 to $lo2 — " +
          "a single range summary would fence the missing ids as committed " +
          "and a retry of one would silently lose its batch; rerun without " +
          "singleRange to fold per contiguous run (or investigate the gap)")
    }
    val summaries = merged.map { case (lo, hi) => s"range_${lo}_$hi" }.toSet
    summaries.foreach { s =>
      fs.create(new org.apache.hadoop.fs.Path(dir, s), true).close()
    }
    entries.filterNot(summaries.contains).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, n), false)
    }
  }

  /** Replay a marked exactly-once ingest append left by a crash, or
    * discard an unmarked (incomplete) stage. Returns true iff a pending
    * commit was completed. Runs as the preamble of every ingest batch
    * and of [[removeFromIngestIndex]]. */
  def recoverIngestAppend(spark: SparkSession, indexPath: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(root, IngestStagingName)
    if (!fs.exists(staging)) return false
    if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_COMMIT"))) {
      replayIngestAppend(fs, root); true
    } else {
      fs.delete(staging, true); false
    }
  }

  /** Preamble for a NEW stream incarnation (a fresh checkpoint) against
    * a standing ingest index: batch ids restart at 0, so the previous
    * incarnation's fences must drop — otherwise the new stream's first
    * batches find old tags and silently no-op. Only call after a CLEAN
    * stop (and after [[recoverIngestAppend]]): a same-checkpoint
    * restart must NOT clear, its retried batch id relies on the fence.
    * The flat-index analogue of [[graft.ops.IndexCommit.clearTags]]
    * (where the index-seeding save performs this implicitly). */
  def clearIngestTags(spark: SparkSession, indexPath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root, IngestTagDirName), true)
    ()
  }

  /** The idempotent publish the `_COMMIT` marker describes: move each
    * staged data file into the flat root (files already moved are no
    * longer listed), fence the batch id the marker names, drop the
    * stage. From the marker's existence on, the append is
    * authoritative — a crash anywhere in here is completed by
    * [[recoverIngestAppend]]. */
  private def replayIngestAppend(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val staging = new org.apache.hadoop.fs.Path(root, IngestStagingName)
    val marker = new org.apache.hadoop.fs.Path(staging, "_COMMIT")
    val batchId = new String(org.apache.hadoop.io.IOUtils
      .readFullyToByteArray(fs.open(marker)), "UTF-8").trim
    val dataDir = new org.apache.hadoop.fs.Path(staging, "data")
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { st =>
        val n = st.getPath.getName
        if (st.isFile && !n.startsWith("_") && !n.startsWith(".")) {
          fs.rename(st.getPath, new org.apache.hadoop.fs.Path(root, n)); ()
        }
      }
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, IngestTagDirName))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/$IngestTagDirName/b$batchId"), true).close()
    fs.delete(staging, true)
    ()
  }

  /** One exactly-once ingest micro-batch — the foreachBatch body of
    * every modality's ingest stream, split out so crash/retry specs can
    * drive it directly. The batch's admitted rows and its batch-id
    * fence publish in ONE marker-fenced commit: a crash before the
    * marker discards the stage (and the retry re-vets — the index never
    * saw the attempt), a crash after it is completed by the next call's
    * recovery preamble, and a retry of a committed batch id no-ops — so
    * a foreachBatch replay can neither double-append signature rows
    * (counts stayed honest before only at CLASS level) nor bloat the
    * file set. */
  private[graft] def ingestBatch(
      batch: DataFrame,
      batchId: Long,
      indexPath: String,
      hashFn: DataFrame => DataFrame,
      dedupFn: (DataFrame, DataFrame) => DataFrame
  ): Unit = {
    val spark = batch.sparkSession
    val path = new org.apache.hadoop.fs.Path(indexPath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    recoverIngestAppend(spark, indexPath)
    if (ingestTagCommitted(fs, indexPath, batchId)) return
    val hashes = hashFn(batch)
    // first batch against a not-yet-created (or tag-only) index: empty
    // frame of the hash schema (an existence probe, not try/catch —
    // Spark logs the failed read's full stack before the exception
    // surfaces, and a root holding only fences/staging has no schema)
    val hasData = fs.exists(path) && fs.listStatus(path).exists(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val index =
      if (hasData) spark.read.parquet(indexPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], hashes.schema)
    val admitted = dedupFn(index, hashes)
    // stage the admissions, mark, publish: the NEXT batch's read sees
    // them, which is what makes cross-batch dedup work. An empty
    // admission set stages no data files and still fences the tag.
    val staging = s"$indexPath/$IngestStagingName"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    admitted.write.mode("overwrite").parquet(s"$staging/data")
    graft.ops.IndexCommit.atomicWrite(fs,
      new org.apache.hadoop.fs.Path(s"$staging/_COMMIT"),
      batchId.toString.getBytes("UTF-8"))
    replayIngestAppend(fs, path)
  }

  /** Streaming SCD2 MAINTENANCE: a CDC/observation stream keeps a
    * persisted [[graft.ops.Snapshot.scd2History]] frame current. Each
    * micro-batch loads the latest history snapshot and merges the batch
    * via [[graft.ops.Snapshot.scd2Apply]] — so per batch only
    * |open runs| + |batch| rows cross the one window pass, never the
    * accumulated history (closed versions are a pass-through branch).
    * The first batch bootstraps the history from scratch.
    *
    * Snapshots are versioned (`historyPath/v<batchId>`, zero-padded)
    * rather than overwritten in place: the merge READS the previous
    * snapshot lazily, so an in-place overwrite would clobber its own
    * input mid-job, and versioning leaves an audit trail of the
    * dimension's evolution. Replay safety: foreachBatch is
    * at-least-once, so batch N's merge reads the highest version
    * STRICTLY BELOW N — never vN itself. A retry of batch N therefore
    * re-reads the same predecessor snapshot and deterministically
    * rewrites vN (a completed first attempt would otherwise feed the
    * retry its own output and crash-loop on the append-only guard; a
    * torn partial vN would silently become the authoritative history).
    * Readers take [[loadScd2History]] (the highest version).
    *
    * Contract: per-key event-time-ordered arrival across batches with
    * strictly increasing `ts` per key — [[graft.ops.Snapshot.scd2Apply]]
    * refuses violations loudly rather than corrupting intervals. */
  def scd2Stream(
      obs: DataFrame,
      keyCols: Seq[String],
      valueCols: Seq[String],
      tsCol: String,
      tieCol: String,
      historyPath: String
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    obs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // strictly-below-batchId: a replayed batch must merge onto its
      // PREDECESSOR snapshot, not onto its own first attempt's output
      val next = loadScd2History(spark, historyPath, beforeVersion = Some(batchId)) match {
        case Some(h) => graft.ops.Snapshot.scd2Apply(
          h, batch, keyCols, valueCols, col(tsCol), tieCol)
        case None => graft.ops.Snapshot.scd2History(
          batch, keyCols, valueCols, col(tsCol), tieCol)
      }
      next.write.mode("overwrite").parquet(f"$historyPath/v$batchId%09d")
      ()
    }

  /** Streaming incremental connected components: each micro-batch of
    * edges merges into the persisted component mapping via
    * [[graft.ops.Graphs.ccApply]] (the first batch builds it with a
    * full [[graft.ops.Graphs.connectedComponents]]), written as
    * versioned parquet under `historyPath/v<batchId>` — the
    * [[scd2Stream]] layout, with the same strictly-below-batchId
    * replay rule: a replayed batch merges onto its PREDECESSOR
    * snapshot, never onto its own first attempt's torn output.
    * Readers take [[loadScd2History]] (the highest version). Each
    * batch costs the increment: the history is scanned once behind a
    * broadcast semi/relabel, and the star contraction runs on the
    * batch-sized contracted graph only. */
  def ccStream(
      edges: DataFrame,
      src: String,
      dst: String,
      historyPath: String,
      maxIter: Int = 64
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edges.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val next = loadScd2History(spark, historyPath, beforeVersion = Some(batchId)) match {
        case Some(h) => graft.ops.Graphs.ccApply(h, batch, src, dst, maxIter)
        case None => graft.ops.Graphs.connectedComponents(batch, src, dst, maxIter)
      }
      next.write.mode("overwrite").parquet(f"$historyPath/v$batchId%09d")
      ()
    }

  /** Per-(user, type) horizon-dedup state: whether an anchor exists yet
    * and the last KEPT timestamp — the exact two scalars the batch
    * operator's per-partition scan holds. */
  case class HorizonState(hasAnchor: Boolean, lastKeptUs: Long)

  /** Streaming twin of [[graft.ops.Dedup.horizonDedup]] on the
    * (user_id, event_type) key: admit an event iff it falls at least
    * `horizonUs` after the previous ADMITTED event of its key — the
    * re-crawl TTL policy applied at ingest time, which is where it
    * naturally lives (admit-or-drop before the row ever lands). Exactly
    * the batch operator's greedy scan, with the two scalars of
    * per-partition state promoted to keyed [[GroupState]]; admissions
    * are therefore bit-identical to a sequential batch replay of the
    * same log (StreamingSpec-pinned differential).
    *
    * CONTRACT: per-key event-time-ordered arrival across batches
    * (within a batch, rows sort by (ts, id) here) — greedy anchor
    * selection is order-sensitive, the [[funnelStream]] contract. An
    * exactly-at-boundary event (`ts == last_kept + horizonUs`) is
    * admitted; equal-timestamp copies order by `event_id`, so the
    * smallest id anchors and its same-instant copies drop. State is
    * two scalars per ever-seen key (a boolean and a long) and lives
    * forever — the policy itself is unbounded-horizon by design (a key
    * silent for a year must STILL be compared to its last admission,
    * so no TTL is sound here; the state is 9 bytes/key). Output mode:
    * append. */
  def horizonDedupStream(
      events: org.apache.spark.sql.Dataset[TypedEvent],
      horizonUs: Long
  ): org.apache.spark.sql.Dataset[TypedEvent] = {
    require(horizonUs > 0, "horizonUs must be positive")
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[HorizonState, TypedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Long, String), rows: Iterator[TypedEvent], state: GroupState[HorizonState]) =>
          var s = state.getOption.getOrElse(HorizonState(false, Long.MinValue))
          val admitted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id)).filter { e =>
            val eUs = us(e.ts)
            // first-ever event anchors; later ones need the full horizon
            // (the subtraction never overflows once an anchor exists)
            if (!s.hasAnchor || eUs - s.lastKeptUs >= horizonUs) {
              s = HorizonState(true, eUs); true
            } else false
          }
          state.update(s)
          admitted.iterator
      }
  }

  /** Per-series seasonal-monitor state: the open bucket and its partial
    * count — a bucket finalizes when a later bucket's first event
    * arrives (per-series event-time-ordered arrival, the
    * [[cusumMonitorStream]] contract). */
  case class SeasonalState(openBucket: Long, openCount: Long)

  case class SeasonalOut(
      series: String, bucket: Long, phase: Long, n: Long,
      mean_r: Double, z_r: Double, is_anomaly: Boolean)

  /** Streaming twin of [[graft.ops.Metrics.seasonalAnomalies]] with
    * FROZEN per-(series, phase) profiles — the hour-of-day-aware burst
    * monitor on a live stream: each finalized (series, bucket) cell is
    * z-scored against the blessed profile of `bucket mod period`
    * (profiles come from a reference window of history; a live stream
    * must not define its own normality — the [[cusumMonitorStream]]
    * convention, and exactly the batch op's `frozenProfiles` mode, so
    * emissions are BIT-identical to the batch replay over the same
    * finalized buckets: StreamingSpec-pinned). Cells whose phase has no
    * profile (or σ ≤ 0) are skipped. State per series is two longs;
    * flush the trailing open bucket with a far-future sentinel event
    * and filter it downstream (the StreamingSpec convention). Output
    * mode: append. */
  def seasonalMonitorStream(
      events: org.apache.spark.sql.Dataset[CusumEvent],
      bucketUs: Long,
      period: Int,
      frozen: Map[(String, Long), (Double, Double)],
      k: Double
  ): org.apache.spark.sql.Dataset[SeasonalOut] = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(period >= 2, "period must be >= 2 buckets")
    require(k > 0, "k must be positive")
    import events.sparkSession.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    events
      .groupByKey(_.series)
      .flatMapGroupsWithState[SeasonalState, SeasonalOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, rows: Iterator[CusumEvent], state: GroupState[SeasonalState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SeasonalOut]
          var st = state.getOption.getOrElse(SeasonalState(Long.MinValue, 0L))
          def finalizeOpen(s: SeasonalState): Unit = {
            val phase = java.lang.Math.floorMod(s.openBucket, period.toLong)
            frozen.get((series, phase)).filter(_._2 > 0.0).foreach {
              case (mu, sd) =>
                val n = s.openCount
                val z = (n.toDouble - mu) / sd
                out += SeasonalOut(series, s.openBucket, phase, n,
                  round6(mu), round6(z),
                  math.abs(n.toDouble - mu) > k * sd)
            }
          }
          // within-batch sort: cross-batch order is the contract, but a
          // batch's own rows carry no ordering guarantee worth relying on
          rows.toSeq.sortBy(_.us).foreach { e =>
            val b = (e.us - java.lang.Math.floorMod(e.us, bucketUs)) / bucketUs
            if (b == st.openBucket) st = st.copy(openCount = st.openCount + 1)
            else {
              if (st.openBucket != Long.MinValue) finalizeOpen(st)
              st = SeasonalState(b, 1L)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-series CUSUM state: the prefix-identity accumulators (running
    * deviation sums and their minima — NOT the max(0, ·) recurrence, so
    * the streamed values are BIT-IDENTICAL to the batch window
    * formulation), plus the open bucket's partial count. */
  case class CusumState(
      pu: Double, minPu: Double, pd: Double, minPd: Double,
      openBucket: Long, openCount: Long)

  case class CusumEvent(series: String, us: Long)

  case class CusumOut(
      series: String, bucket: Long, n: Long,
      s_pos_r: Double, s_neg_r: Double,
      alarm_up: Boolean, alarm_down: Boolean)

  /** Streaming CUSUM drift monitor: the unbounded-stream face of
    * [[graft.ops.Metrics.cusumChangepoints]] with FROZEN per-series
    * baselines (mean, sigma) — a live stream must not define its own
    * normality, so the baseline comes from a blessed reference window
    * (the frozen-[[graft.model.Stats]] scoring convention). Series
    * absent from the baseline are ignored; sigma ≤ 0 series never
    * alarm and are dropped too.
    *
    * Each series keeps the PREFIX-IDENTITY accumulators (running sums
    * of deviations + their running minima — four doubles and the open
    * bucket's count), so emitted scores are bit-identical to the batch
    * window formulation over the same finalized buckets. A bucket
    * finalizes when a LATER bucket's first event arrives (per-series
    * event-time-ordered arrival is the contract, as in
    * [[funnelStream]]); empty buckets are skipped, exactly like the
    * batch grain. Flush the trailing open bucket with a far-future
    * sentinel event and filter it downstream (the StreamingSpec
    * convention). Output mode: append. */
  def cusumMonitorStream(
      events: org.apache.spark.sql.Dataset[CusumEvent],
      bucketUs: Long,
      frozen: Map[String, (Double, Double)],
      kSigma: Double = 0.5,
      hSigma: Double = 4.0
  ): org.apache.spark.sql.Dataset[CusumOut] = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(kSigma >= 0 && hSigma > 0, "need kSigma >= 0 and hSigma > 0")
    import events.sparkSession.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    events
      .groupByKey(_.series)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, rows: Iterator[CusumEvent], state: GroupState[CusumState]) =>
          frozen.get(series).filter(_._2 > 0.0) match {
            case None => Iterator.empty
            case Some((mean, sigma)) =>
              val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
              var st = state.getOption.getOrElse(
                CusumState(0.0, Double.MaxValue, 0.0, Double.MaxValue, Long.MinValue, 0L))
              def finalize(st0: CusumState): CusumState = {
                val n = st0.openCount
                val dUp = n.toDouble - mean - kSigma * sigma
                val dDn = mean - kSigma * sigma - n.toDouble
                val pu = st0.pu + dUp
                val pd = st0.pd + dDn
                val minPu = math.min(st0.minPu, pu)
                val minPd = math.min(st0.minPd, pd)
                val sPos = pu - math.min(0.0, minPu)
                val sNeg = pd - math.min(0.0, minPd)
                out += CusumOut(series, st0.openBucket, n,
                  round6(sPos), round6(sNeg),
                  sPos > hSigma * sigma, sNeg > hSigma * sigma)
                CusumState(pu, minPu, pd, minPd, st0.openBucket, 0L)
              }
              rows.foreach { e =>
                val b = (e.us - java.lang.Math.floorMod(e.us, bucketUs)) / bucketUs
                if (b == st.openBucket) st = st.copy(openCount = st.openCount + 1)
                else {
                  if (st.openBucket != Long.MinValue) st = finalize(st)
                  st = st.copy(openBucket = b, openCount = 1L)
                }
              }
              state.update(st)
              out.iterator
          }
      }
  }

  /** Per-series rolling-anomaly state: the trailing finalized buckets
    * still inside any future baseline RANGE (bucket-value pruned, so
    * series gaps behave exactly like the batch RANGE frame), plus the
    * open bucket's partial count. */
  case class RollingAnomalyState(
      trail: List[(Long, Long)], openBucket: Long, openCount: Long)

  case class RollingAnomalyOut(
      bucket_type: String, bucket: Long, n: Long, base_n: Long,
      mean_r: Option[Double], z_r: Option[Double], is_anomaly: Boolean)

  /** Streaming face of [[graft.ops.Metrics.rollingAnomalies]]: each
    * series carries its trailing `baselineBuckets` finalized counts and
    * scores every newly-finalized bucket against that window — EXACT
    * integer moments, then the identical IEEE double chain, so emitted
    * rows are bit-identical to the batch operator over the same
    * buckets (StreamingSpec pins it). The trailing buffer prunes by
    * BUCKET VALUE, not row count, so gaps in a series shrink the
    * baseline exactly as the batch RANGE frame does.
    *
    * Contract: per-series event-time-ordered arrival (a bucket
    * finalizes when a later bucket's first event arrives — flush the
    * tail with a far-future sentinel, [[cusumMonitorStream]]'s
    * convention). State per series: ≤ `baselineBuckets` (bucket, n)
    * pairs + two scalars. Output mode: append. */
  def rollingAnomalyStream(
      events: org.apache.spark.sql.Dataset[CusumEvent],
      bucketUs: Long,
      baselineBuckets: Int,
      k: Double,
      minBaseline: Int = 3
  ): org.apache.spark.sql.Dataset[RollingAnomalyOut] = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(baselineBuckets >= minBaseline && minBaseline >= 2,
      "need baselineBuckets >= minBaseline >= 2")
    require(k > 0, "k must be positive")
    import events.sparkSession.implicits._
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    events
      .groupByKey(_.series)
      .flatMapGroupsWithState[RollingAnomalyState, RollingAnomalyOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (series: String, rows: Iterator[CusumEvent],
         state: GroupState[RollingAnomalyState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[RollingAnomalyOut]
          var st = state.getOption.getOrElse(
            RollingAnomalyState(Nil, Long.MinValue, 0L))
          def finalizeOpen(st0: RollingAnomalyState): RollingAnomalyState = {
            val b = st0.openBucket
            val n = st0.openCount
            // the batch RANGE frame: buckets in [b - baselineBuckets, b - 1]
            val base = st0.trail.filter(_._1 >= b - baselineBuckets)
            val m = base.size.toLong
            val s1 = base.map(_._2).sum
            val s2 = base.map(x => x._2 * x._2).sum
            val mean = s1.toDouble / m.toDouble
            val variance = s2.toDouble / m.toDouble - mean * mean
            val z = (n.toDouble - mean) / math.sqrt(variance)
            out += RollingAnomalyOut(series, b, n, m,
              if (m >= minBaseline) Some(round6(mean)) else None,
              if (m >= minBaseline && variance > 0) Some(round6(z)) else None,
              m >= minBaseline &&
                ((variance > 0 && math.abs(n.toDouble - mean) >
                  k * math.sqrt(variance)) ||
                 (variance == 0.0 && n.toDouble != mean)))
            st0.copy(trail = ((b, n) :: st0.trail)
              .filter(_._1 > b - baselineBuckets), openCount = 0L)
          }
          rows.foreach { e =>
            val b = (e.us - java.lang.Math.floorMod(e.us, bucketUs)) / bucketUs
            if (b == st.openBucket) st = st.copy(openCount = st.openCount + 1)
            else {
              if (st.openBucket != Long.MinValue) st = finalizeOpen(st)
              st = st.copy(openBucket = b, openCount = 1L)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** The latest [[scd2Stream]] history snapshot (highest `v<N>`
    * directory), if one exists yet. Zero-padded names make the
    * lexicographic max the numeric max. `beforeVersion` restricts to
    * versions NUMERICALLY below the bound — [[scd2Stream]]'s replay
    * guard, where batch N must never read its own vN output. */
  def loadScd2History(
      spark: SparkSession,
      historyPath: String,
      beforeVersion: Option[Long] = None
  ): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(historyPath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None
    else {
      val vs = fs.listStatus(path).map(_.getPath.getName)
        .filter(_.matches("v\\d+"))
        .filter(n => beforeVersion.forall(b => n.drop(1).toLong < b))
      if (vs.isEmpty) None
      else Some(spark.read.parquet(s"$historyPath/${vs.max}"))
    }
  }

  /** Retention for the SNAPSHOT-versioned layouts ([[scd2Stream]],
    * [[ccStream]]), where every `v<batchId>` dir is a COMPLETE state
    * and older versions exist only for replay: delete versions
    * strictly below `belowId`, always keeping the newest one (the
    * state itself). Run with the stream stopped and `belowId` at or
    * below its committed checkpoint — replays older than the horizon
    * become impossible, exactly the [[compactSpanIndex]] contract.
    * (The span index is NOT snapshot-versioned — its versions are
    * disjoint increments; compact it, never prune it.) Returns the
    * number of versions deleted. */
  def pruneVersions(
      spark: SparkSession,
      path: String,
      belowId: Long
  ): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    val vs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).sorted
    if (vs.isEmpty) return 0
    val newest = vs.last
    val doomed = vs.filter(v => v != newest && v.drop(1).toLong < belowId)
    doomed.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(path, v), true))
    doomed.length
  }
}
