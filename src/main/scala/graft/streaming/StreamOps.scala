package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming ingest of the events stream (SURVEY.md §7.5 —
  * the reference has no streaming; this is the beyond-parity extension).
  *
  * The transforms are defined once and shared by batch and streaming
  * (same DataFrame code path), so the batch oracle checks in SparkEntry
  * validate the streaming logic too.
  */
object StreamOps {

  /** events schema as read from the driver's parquet (ts arrives as ns
    * epoch long under spark.sql.legacy.parquet.nanosAsLong). Kept for
    * callers that stream ns-long fixtures; [[readEventsStream]] now
    * derives the schema from the files themselves, because the driver
    * has shipped both TIMESTAMP(NANOS) (-> long) and TIMESTAMP(MICROS)
    * (-> timestamp_ntz) testdata across rounds. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Normalize whatever physical type `ts` arrived as to TimestampType:
    * ns epoch long (legacy nanosAsLong reads) -> floor-divide to micros;
    * TIMESTAMP_NTZ (plain parquet TIMESTAMP(MICROS) with no tz) -> cast,
    * a wall-clock identity under the UTC session timezone every entry
    * point pins. Downstream event-time code (watermarks, unix_micros,
    * java.sql.Timestamp encoders) then sees one type regardless of how
    * the writer annotated the column. */
  def normalize(raw: DataFrame, tsCol: String = "ts"): DataFrame =
    raw.schema.fields.find(_.name == tsCol).map(_.dataType) match {
      case Some(LongType) =>
        raw.withColumn(tsCol, timestamp_micros(expr(s"`$tsCol` DIV 1000")))
      case Some(TimestampNTZType) =>
        raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => raw
    }

  /** State-store partition count for a NEW stateful streaming query
    * (windowed agg, stream-stream join, flatMapGroupsWithState).
    * Structured Streaming sizes its state stores from
    * `spark.sql.shuffle.partitions` at the query's FIRST batch and pins
    * that into the checkpoint forever — and each HDFS-backed store pays
    * a fixed per-partition per-batch maintenance cost (delta file +
    * commit) that is independent of the data, so a batch-sized default
    * (= total cores) makes small/medium-rate streams pay a state-commit
    * floor that dwarfs the rows (measured on the interval join: 32
    * stores per side doubled wall time vs 8). Resolution order:
    *
    *  - `spark.graft.stream.statePartitions` (session conf) — the
    *    deployment override: size to the stream's RATE (rows/sec per
    *    partition), which no core-count formula can know;
    *  - else `max(defaultParallelism / 4, 8)`: scales WITH the cluster
    *    (a 1000-core deployment gets 250 state partitions, not a
    *    local-mode constant) while keeping state tasks a fraction of
    *    the compute slots — state tasks are commit-latency-bound, not
    *    CPU-bound, and fewer+larger stores amortize their fixed cost
    *    (guide §2.2's fewer-larger-partitions rule applied to state).
    *
    * Only NEW queries consult this (existing checkpoints keep their
    * pinned count). */
  def statePartitions(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.stream.statePartitions").map(_.toInt)
      .getOrElse(math.max(spark.sparkContext.defaultParallelism / 4, 8))

  /** Scope `spark.sql.shuffle.partitions` to [[statePartitions]] around
    * a stateful query's `start()` — the conf is read once at start and
    * pinned into the checkpoint, so the session value is restored
    * immediately after; later BATCH queries see the original. */
  def withStatePartitions[T](spark: SparkSession)(start: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statePartitions(spark).toString)
    try start
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Tumbling-window aggregation with a watermark for late data —
    * identical logic batch or stream. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming dedup on event_id within the watermark horizon —
    * exactly-once-per-event semantics over an at-least-once source. */
  def dedupedStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** One closed user session: events separated by gaps <= `gap`. */
  final case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp, n_events: Long,
                               sum_value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  final case class EventRow(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class TypedEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class FunnelProgress(step: Int, firstTs: Long, lastTs: Long)
  final case class FunnelOutcome(user_id: Long, completed: Boolean, steps_completed: Long)

  /** Stateful sessionization with flatMapGroupsWithState: per user, an
    * open session accumulates until an event arrives more than `gapMs`
    * after the previous one (or the state times out), then the closed
    * session is emitted. The custom-state analogue of the windowed aggs
    * above — state is partitioned by user, so it scales with distinct
    * users, not events. */
  def sessionize(events: DataFrame, gapMs: Long = 30 * 60 * 1000L):
      org.apache.spark.sql.Dataset[UserSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("ts"), col("value")).as[EventRow]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val closed = Seq.newBuilder[UserSession]
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val t = e.ts.getTime
            st = st match {
              case null => SessionState(t, t, 1L, e.value)
              case s if t - s.last <= gapMs =>
                SessionState(s.start, t, s.n + 1, s.sum + e.value)
              case s =>
                closed += UserSession(userId, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.last), s.n,
                  // HALF_UP on BigDecimal = away from zero for both signs,
                  // matching SQL round() semantics
                  BigDecimal(s.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
                SessionState(t, t, 1L, e.value)
            }
          }
          if (st != null) state.update(st)
          closed.result().iterator
      }
  }

  /** Streaming funnel with DROP-OFF reporting: per user, advance through
    * `steps` in order; emit (user, completed=true, n) the moment the last
    * step lands, or (user, completed=false, steps_reached) once the
    * event-time watermark proves the conversion window closed on a
    * partial funnel. The second half is what batch funnels can't give a
    * live pipeline: abandonment becomes VISIBLE at a deterministic
    * event-time deadline, not whenever someone re-runs a report.
    *
    * State is one (step, firstTs) pair per in-flight user, evicted on
    * completion or timeout — `GroupStateTimeout.EventTimeTimeout` keyed
    * off the first step's event time + `maxSpanMs`, so the watermark
    * drives expiry exactly like the outer interval join's null emission.
    * Users whose funnel never started hold NO state. Within a batch,
    * events sort by event time (micro-batch-bounded buffer, same as
    * [[sessionize]]); steps landing past the span are ignored, so a
    * timed-out user reports the progress made inside the window. */
  def funnelStream(events: DataFrame, steps: Seq[String], maxSpanMs: Long,
                   watermark: String = "10 minutes"):
      org.apache.spark.sql.Dataset[FunnelOutcome] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    require(steps.nonEmpty && maxSpanMs > 0, "funnelStream: steps/maxSpan required")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("ts"), col("event_type"))
      .withWatermark("ts", watermark)
      .as[TypedEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelOutcome](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[TypedEvent], state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(FunnelOutcome(userId, completed = false, s.step.toLong))
          } else {
            // microseconds (getTime is ms-truncated): ordering and span
            // checks stay exact at timestamp precision, so results don't
            // depend on sub-ms ties a ms clock can't see
            def us(t: java.sql.Timestamp): Long =
              t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
            var st = state.getOption.getOrElse(FunnelProgress(0, Long.MinValue, Long.MinValue))
            rows.toSeq.sortBy(e => us(e.ts)).foreach { e =>
              val t = us(e.ts)
              // each step STRICTLY after the previous in event time (the
              // batch funnel's rule — tie-proof regardless of scan order)
              if (st.step < steps.length && e.event_type == steps(st.step) &&
                  (st.step == 0 ||
                    (t > st.lastTs && t - st.firstTs <= maxSpanMs * 1000L))) {
                st = FunnelProgress(st.step + 1,
                  if (st.step == 0) t else st.firstTs, t)
              }
            }
            if (st.step == steps.length) {
              state.remove()
              Iterator(FunnelOutcome(userId, completed = true, steps.length.toLong))
            } else if (st.step > 0) {
              state.update(st)
              state.setTimeoutTimestamp(st.firstTs / 1000L + maxSpanMs)
              Iterator.empty
            } else Iterator.empty
          }
      }
  }

  /** Batch sessionization — the gaps-and-islands window formulation: lag
    * flags session breaks, a running sum numbers sessions, one aggregate
    * closes them. Bounded state end to end — no per-user materialization,
    * so a hot user with millions of events spills through the sort rather
    * than OOMing a task (routing batch through flatMapGroupsWithState
    * would hold each user's events in one in-memory Seq). Streaming keeps
    * the fMGWS path above; batch callers use this one.
    *
    * Emits CLOSED sessions only (each user's last session is still open),
    * matching the streaming semantics. */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevTs = lag(col("ts"), 1).over(byUser)
    // normalize FIRST (ns-long -> micros, NTZ -> timestamp) so the
    // unix_micros below sees TimestampType or fails analysis loudly — a
    // blind cast("timestamp") would silently reinterpret an
    // unnormalized ns-long as epoch SECONDS
    val flagged = normalize(events.select(col("user_id"), col("ts"), col("value")))
      .withColumn("brk",
        when(prevTs.isNull ||
          unix_micros(col("ts")) - unix_micros(prevTs) > gapMs * 1000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(cum))
      // the user's LAST session id, computed on the same user_id
      // partitioning the lag/sum windows already established — carrying
      // it into the aggregate avoids a third exchange for a post-agg
      // max-over-user window
      .withColumn("max_sid", max(col("sid")).over(Window.partitionBy(col("user_id"))))
    flagged
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        max(col("max_sid")).as("max_sid"))
      .where(col("sid") < col("max_sid"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming corpus preprocessing — the continuous-ingestion path of
    * the training-data pipeline: the row-local prefix of
    * [[graft.text.CorpusPipeline]] (language filter, quality filter,
    * redaction — identical Column expressions, so the batch oracle checks
    * validate the streaming logic) plus exact dedup on the content
    * fingerprint within the watermark horizon
    * (`dropDuplicatesWithinWatermark`, so fingerprint state is evicted
    * as the watermark advances instead of growing forever). The pairwise
    * stages (MinHash, connected components, decontamination) stay batch:
    * they need global corpus visibility by nature. */
  def preprocessDocsStream(docs: DataFrame, tsCol: String = "ts",
      textCol: String = "text",
      t: graft.text.CorpusPipeline.Thresholds = graft.text.CorpusPipeline.Thresholds(),
      watermark: String = "2 hours"): DataFrame = {
    import graft.text.TextOps
    val toks = TextOps.tokens(col(textCol))
    val q = TextOps.qualityFeatures(col(textCol))
    docs
      .where(TextOps.langId(toks).isin(t.languages.map(x => x: Any): _*))
      .where(q("n_tokens") >= t.minTokens &&
        q("punct_ratio") <= t.maxPunctRatio &&
        TextOps.repetitionRatio(toks) <= t.maxRepetitionRatio)
      .withColumn(textCol, TextOps.redact(col(textCol)))
      .withColumn("fp", TextOps.fingerprintMd5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Streaming chat-transcript preprocessing — the continuous form of
    * [[graft.text.CorpusPipeline.preprocessChat]]'s row-local prefix:
    * parse -> schema-contract filter -> per-turn PII scrub -> render
    * (identical Column expressions to the batch form, so the batch
    * oracle q_x_chat_pipeline validates the streaming logic) plus exact
    * dedup on the rendered string's fingerprint within the watermark
    * horizon. Output: (idCol, text, fp) — the deduped rendered
    * transcripts; packing composes downstream via [[packStream]]. */
  def preprocessChatStream(docs: DataFrame, idCol: String, jsonCol: String,
      tsCol: String = "ts",
      roles: Seq[String] = graft.text.Chat.defaultRoles,
      watermark: String = "2 hours"): DataFrame = {
    import graft.text.{Chat, TextOps}
    docs
      .where(Chat.schemaValid(col(jsonCol), roles))
      .select(col(idCol), col(tsCol),
        Chat.renderTurns(Chat.mapContent(
          Chat.messages(col(jsonCol)), c => TextOps.redact(c))).as("text"))
      .withColumn("fp", TextOps.fingerprintMd5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Streaming corpus health monitor — the continuous form of
    * [[graft.text.SnapshotOps.healthReport]]: one audit row per
    * tumbling window (doc/token counts, mean length, short-doc share,
    * and APPROXIMATE exact-dup mass via HLL-distinct fingerprints).
    * Approximate because a stream gets ONE stateful aggregation pass —
    * `approx_count_distinct` keeps per-window state at a sketch, where
    * an exact distinct would buffer every fingerprint; the exact number
    * is the batch healthReport's job at promotion time. Dup mass is
    * clamped at 0 (HLL can overcount distinct slightly).
    *
    * State is bounded: one sketch + five counters per open window,
    * evicted as the watermark passes. */
  def healthStream(docs: DataFrame, tsCol: String = "ts",
                   textCol: String = "text",
                   windowLen: String = "1 hour", watermark: String = "2 hours",
                   shortTokens: Int = 10): DataFrame = {
    import graft.text.TextOps
    val toks = TextOps.tokens(col(textCol))
    docs
      .withColumn("__n_toks", size(toks).cast("long"))
      .withColumn("__fp", TextOps.fingerprintMd5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n_toks")).as("n_tokens"),
        round(avg(col("__n_toks")), 4).as("mean_doc_tokens"),
        approx_count_distinct(col("__fp")).as("__n_fp"),
        sum(when(col("__n_toks") < shortTokens, 1L).otherwise(0L)).as("__n_short"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("n_tokens"), col("mean_doc_tokens"),
        round(greatest(lit(0.0),
          lit(1.0) - col("__n_fp").cast("double") / col("n_docs")), 4)
          .as("approx_dup_mass"),
        round(col("__n_short").cast("double") / col("n_docs"), 4).as("pct_short"))
  }

  /** Above this many distinct benchmark grams the exact collected-
    * literal kernel switches to the Bloom kernel: `arrays_overlap`
    * against a constant array costs O(|bench grams|) PER ROW (the
    * measured 10x probe: 2.67 -> 20.66 s as corpus x grams grew), so
    * past this point the per-row cost must become gram-set-independent.
    * Below it the literal stays exact — the same two-sided gating
    * discipline as [[graft.ops.ScanPrune]]. */
  val DecontExactGramCap: Int = 1 << 16

  /** Streaming benchmark decontamination: drop arriving docs that share
    * any word n-gram with the (static) benchmark — the ingest-time guard
    * that keeps eval contamination out of a continuously-growing corpus
    * instead of re-sweeping it in batch.
    *
    * The batch shape (explode + semi-join + collapse + anti-join) is a
    * stream self-join, which Structured Streaming rejects; the streaming
    * shape must decide contamination PER ROW. Two row-local kernels,
    * auto-gated by the benchmark's distinct gram count (one cheap static
    * count at plan time):
    *
    *  - `<= maxExactGrams`: the gram set is collected once and the check
    *    is one codegen'd `arrays_overlap` against the literal — EXACT,
    *    stateless, shuffle-free, but O(|grams|) per row.
    *  - above it: the grams collapse into a Bloom filter (never
    *    collected) and the check is `exists(gram -> might_contain)` —
    *    per-row cost independent of the gram-set size. One-sided error
    *    in the SAFE direction: a false positive drops a CLEAN doc
    *    (rate <= `fpp` per doc-gram, tune with `fpp`); contaminated
    *    docs can NEVER leak through, because a true member always hits.
    *
    * Works identically on batch frames. */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
                          textCol: String, benchTextCol: String,
                          n: Int = 13,
                          maxExactGrams: Int = DecontExactGramCap,
                          fpp: Double = 0.001): DataFrame = {
    import graft.text.TextOps
    require(!benchmark.isStreaming,
      "decontaminateStream: benchmark side must be static")
    require(maxExactGrams >= 0,
      s"decontaminateStream: maxExactGrams >= 0, got $maxExactGrams")
    val gramsDf = benchmark
      .select(explode(TextOps.wordShingles(
        TextOps.tokens(col(benchTextCol)), n)).as("__ng"))
      .distinct()
    // ONE gate job, not count-then-collect: a limit(cap+1) collect both
    // decides the gate (size cap+1 means over) and, when at or under
    // the cap, IS the complete literal gram set — and it bounds driver
    // memory in the over-cap case instead of counting the whole set.
    // The +1 saturates instead of overflowing: maxExactGrams =
    // Int.MaxValue (force-exact) must not become a negative limit
    val gramSample = gramsDf
      .limit(math.min(maxExactGrams.toLong + 1L, Int.MaxValue.toLong).toInt)
      .as[String](org.apache.spark.sql.Encoders.STRING).collect()
    val docGrams = TextOps.wordShingles(TextOps.tokens(col(textCol)), n)
    if (gramSample.length <= maxExactGrams) {
      // overlaps_const_set == arrays_overlap against the same null-free
      // literal, but the literal's hash set is built once per operator
      // instead of per row (ArraysOverlap rebuilds the smaller side's
      // set on every invocation — at a ~10^4-gram benchmark that made
      // the gate's per-row cost O(set), dominating every micro-batch)
      docs.where(!graft.functions.TextExpressions.overlaps_const_set(
        docGrams, gramSample.sorted.toSeq))
    } else {
      // over-cap: the count runs only here, purely to size the Bloom
      val nGrams = gramsDf.count()
      val bloom = graft.ops.BloomJoin.bloomBytes(gramsDf, "__ng", nGrams, fpp)
      docs.where(!exists(docGrams,
        g => graft.ops.BloomJoin.mightContain(bloom, g)))
    }
  }

  /** Open the events directory as a file stream. The stream schema is
    * read from the parquet footers (one cheap batch-read of metadata) so
    * a ns-long vs timestamp `ts` column is represented faithfully —
    * imposing the wrong physical type on a file stream silently misreads
    * epoch values instead of failing. An EMPTY (or not-yet-created)
    * directory falls back to [[eventsSchema]] — a stream is routinely
    * started before its first file lands. The inferred schema is pinned
    * for the stream's lifetime: every file later written to the watched
    * directory must use the SAME ts encoding (mixed ns-long and
    * timestamp files in one directory are unsupported — the stream
    * would misread or break on the minority encoding). */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => eventsSchema }
    normalize(spark.readStream.schema(fileSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir))
  }

  /** Watermarked interval stream-stream join — the attribution shape:
    * every left event matched to same-user right events that occur
    * within [0, maxDelayMs] AFTER it (e.g. click -> purchase within 30
    * minutes). Both sides are watermarked and the join condition bounds
    * event time in BOTH directions, which is exactly what Structured
    * Streaming needs to expire buffered state: left rows age out once
    * the right watermark passes l_ts + maxDelay, right rows once the
    * left watermark passes r_ts. Identical logic batch or stream
    * (withWatermark is a no-op on batch frames), so the batch run IS the
    * oracle for the streaming one. Output: one row per matched pair. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         maxDelayMs: Long,
                         watermark: String = "2 hours"): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"),
        col("user_id").as("l_user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("event_id").as("r_event_id"),
        col("user_id").as("r_user_id"), col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
      s"""l_user_id = r_user_id AND
          r_ts >= l_ts AND
          r_ts <= l_ts + interval $maxDelayMs milliseconds"""))
      .select(col("l_event_id"), col("r_event_id"))
  }

  /** LEFT OUTER form of [[intervalJoinStream]] — the funnel-drop shape:
    * every left event emits, matched rows immediately, UNMATCHED rows
    * (r_event_id null) only once the right watermark passes
    * l_ts + maxDelay and proves no match can still arrive. That delayed
    * null emission is the semantic difference from the inner join, and
    * why outer results need watermark advancement (a final empty batch
    * in tests) before the nulls appear. Same both-ways time bound, so
    * state stays bounded exactly as in the inner form. */
  def intervalJoinOuterStream(left: DataFrame, right: DataFrame,
                              maxDelayMs: Long,
                              watermark: String = "2 hours"): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"),
        col("user_id").as("l_user_id"), col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("event_id").as("r_event_id"),
        col("user_id").as("r_user_id"), col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r, expr(
      s"""l_user_id = r_user_id AND
          r_ts >= l_ts AND
          r_ts <= l_ts + interval $maxDelayMs milliseconds"""),
      "left_outer")
      .select(col("l_event_id"), col("r_event_id"))
  }

  /** Stream-to-store ingest: each micro-batch lands in the versioned RAW
    * zone through the same transactional path as batch ingest (log row
    * first, success flip after), so crash-recovery and as-of semantics
    * hold for streamed data too. Use with `.trigger(...)` and a
    * checkpoint in deployment; tests drive it with processAllAvailable. */
  def ingestStream(events: DataFrame, store: graft.store.Store,
                   tableName: String): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          store.ingest(batch, tableName, url = s"stream:batch=$batchId"): Unit
      }

  /** One micro-batch of the streaming dedup ingest: drop batch rows that
    * exact- or near-duplicate the ALREADY-ACCUMULATED corpus at
    * `corpusDir` (plus in-batch exact dups), append the survivors. The
    * corpus itself is the dedup index — (id, text) parquet, re-read per
    * batch; [[graft.text.TextOps.dedupIncremental]] does the compare with
    * the batch on the broadcast side, so per-batch cost scales with the
    * BATCH, not the corpus (the corpus-side scan is pruned to id+text and
    * never shuffles).
    *
    * A parquet append is not idempotent, but the dedup makes REPLAYS of
    * the same data no-ops: a re-delivered batch exact-matches what the
    * first delivery appended and is filtered before the write. That turns
    * at-least-once delivery (foreachBatch's contract after a crash
    * between write and checkpoint commit) into effective exactly-once for
    * the corpus content — the batch-id bookkeeping other sinks need is
    * unnecessary HERE because the operator's own semantics absorb
    * duplicates. Exposed separately from the stream wiring so that specs
    * (and backfills) can drive it directly. */
  def dedupIngestBatch(batch: DataFrame, corpusDir: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, threshold: Double = 0.5): Long = {
    import graft.text.TextOps
    val spark = batch.sparkSession
    healPartials(spark, corpusDir) // restore a compactCorpus mid-swap crash
    // hasCommittedData, not bare exists: a crash during the first append
    // leaves the dir with only a _temporary skeleton, and reading it as
    // parquet would throw on every replay — wedging the stream
    val existing =
      if (hasCommittedData(spark, corpusDir))
        spark.read.parquet(corpusDir).select(col(idCol), col(textCol))
      else batch.select(col(idCol), col(textCol)).limit(0)
    val survivors = TextOps.dedupIncremental(
      batch, existing, idCol, textCol, shingleN, threshold)
    // count() materializes BEFORE the append so the filter cannot see the
    // rows it is itself writing; survivors is small (a micro-batch slice)
    val kept = survivors.transform(graft.ops.Pins.pin)
    val n = kept.count()
    if (n > 0) kept.write.mode("append").parquet(corpusDir)
    n
  }

  /** Streaming corpus ingest with continuous dedup: every micro-batch is
    * deduped against everything accumulated so far, survivors append to
    * `corpusDir`. Start with `.option("checkpointLocation", ...)` for
    * restartability — see [[dedupIngestBatch]] for why replays after a
    * crash cannot double-insert. */
  def dedupIngestStream(docs: DataFrame, corpusDir: String,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3, threshold: Double = 0.5)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          dedupIngestBatch(batch, corpusDir, idCol, textCol, shingleN, threshold): Unit
      }

  /** One packed document in a shard's token stream: its span
    * [start_offset, start_offset + n_tokens) and the ctxLen windows it
    * lands in — the streaming row of [[graft.text.Packing.packSequences]]. */
  final case class PackedDoc(doc_id: Long, shard: Long, n_tokens: Long,
                             start_offset: Long, seq_first: Long, seq_last: Long)
  final case class ShardOffset(nextOffset: Long)

  /** STREAMING concat-and-chunk sequence packing: documents arriving on
    * a stream are appended to per-shard virtual token streams and
    * assigned their window spans continuously — the feed a live
    * tokenize-and-pack pipeline consumes, where the batch
    * [[graft.text.Packing.packSequences]] would mean re-scanning the
    * corpus per refresh.
    *
    * State is ONE Long per shard (the shard's next free token offset):
    * scale-independent, checkpoint-tiny. Shard = doc_id mod nShards;
    * docs within a micro-batch pack in doc_id order (the batch
    * operator's determinism discipline), across batches in arrival
    * order — which the checkpoint makes replay-stable: after a crash,
    * re-delivered batches reproduce the same offsets because the state
    * version travels with the source offsets. Zero-token docs occupy
    * no space and emit no row, exactly like the batch operator.
    *
    * Windows are per shard: window w of shard s owns that shard's
    * tokens [w*ctxLen, (w+1)*ctxLen) — nShards independent token
    * streams a loader reads in parallel. */
  def packStream(docs: DataFrame, idCol: String, textCol: String,
                 ctxLen: Int, nShards: Int): org.apache.spark.sql.Dataset[PackedDoc] = {
    require(ctxLen >= 1, s"packStream: ctxLen must be >= 1, got $ctxLen")
    require(nShards >= 1, s"packStream: nShards must be >= 1, got $nShards")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = docs.sparkSession
    import spark.implicits._
    val typed = docs
      .select(col(idCol).cast("long").as("doc_id"),
        graft.text.TextOps.tokens(col(textCol)).as("__toks"))
      .where(col("__toks") =!= array(lit("")))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n"),
        pmod(col("doc_id"), lit(nShards.toLong)).as("shard"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._3)
      .flatMapGroupsWithState[ShardOffset, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[ShardOffset]) =>
          var off = state.getOption.map(_.nextOffset).getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, n, _) =>
            val start = off
            off += n
            PackedDoc(id, shard, n, start,
              start / ctxLen, (start + n - 1) / ctxLen)
          }
          state.update(ShardOffset(off))
          out.iterator
      }
  }

  /** One micro-batch of the streaming ANN-index ingest: drop batch
    * vectors whose id is already IN the index, append the rest through
    * [[graft.vec.VecIndex.appendWithPolicy]] (frozen-centroid
    * assignment + the skew policy's metadata-scale stats check), and
    * return the policy verdict.
    *
    * The id anti-join is what makes replays no-ops: after a crash
    * between append and checkpoint commit, foreachBatch re-delivers
    * the same rows, every id matches what the first delivery appended,
    * and the batch filters to empty — the same absorption discipline
    * as [[dedupIngestBatch]], so at-least-once delivery becomes
    * effective exactly-once for index content. Cost: one id-only
    * column-pruned scan of the lists per batch (no shuffle — the batch
    * rides the broadcast side). On a very large index, feed ids
    * monotonically and short-circuit with your own high-water mark
    * upstream; the in-index check stays the correctness backstop. */
  def vecIndexIngestBatch(batch: DataFrame, indexDir: String,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          maxCv: Double = 1.0,
                          autoRebalance: Boolean = false): graft.vec.VecIndex.SkewVerdict = {
    import graft.vec.VecIndex
    val spark = batch.sparkSession
    // two broadcast-right joins so the index-side id scan NEVER
    // shuffles (a naive batch-anti-index would broadcast or shuffle
    // the INDEX): (1) index ids semi-join the broadcast batch ids ->
    // `present` is at most batch-sized; (2) batch anti-joins the
    // broadcast `present`
    // intra-batch duplicates (same-id rows delivered together) are
    // absorbed here with the same discipline as cross-batch replays;
    // without this a duplicated id inside one micro-batch would be
    // appended twice and probes would return duplicate neighbors
    val deduped = batch.dropDuplicates(idCol)
    val existingIds = spark.read.parquet(s"$indexDir/lists").select(col("id"))
    val present = existingIds.join(
      broadcast(deduped.select(col(idCol).as("id"))),
      Seq("id"), "left_semi")
    val fresh = deduped
      .join(broadcast(present), deduped(idCol) === present("id"), "left_anti")
      .transform(graft.ops.Pins.pin)
    if (fresh.isEmpty) VecIndex.SkewVerdict(VecIndex.listStats(spark, indexDir),
      needsRebalance = false, rebalanced = false)
    else VecIndex.appendWithPolicy(fresh, indexDir, idCol, vecCol,
      maxCv = maxCv, autoRebalance = autoRebalance)
  }

  /** Streaming ANN ingest: every micro-batch of vectors lands in the
    * persisted [[graft.vec.VecIndex]] at `indexDir` (which must exist —
    * build it from a seed corpus first; frozen-centroid appends need
    * centroids to assign into). Start with
    * `.option("checkpointLocation", ...)`; see [[vecIndexIngestBatch]]
    * for why replays after a crash cannot double-insert. The skew
    * policy runs per batch at metadata cost; pass
    * `autoRebalance = true` only when no probes run concurrently. */
  def vecIndexIngestStream(vectors: DataFrame, indexDir: String,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           maxCv: Double = 1.0,
                           autoRebalance: Boolean = false)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          vecIndexIngestBatch(batch, indexDir, idCol, vecCol,
            maxCv, autoRebalance): Unit
      }

  /** Streaming winnow-index ingest: every micro-batch of documents
    * lands in the persisted [[graft.text.WinnowIndex]] at `indexDir`,
    * so passage attribution ([[graft.text.WinnowIndex.probeBatch]])
    * runs against a LIVE corpus. Replay-safe without batch-id
    * bookkeeping: ingestBatch drops ids already indexed (and in-batch
    * duplicates), so a batch re-delivered after a crash between append
    * and checkpoint commit appends nothing — the vecIndexIngestBatch
    * discipline. Start with `.option("checkpointLocation", ...)`. */
  def winnowIndexIngestStream(docs: DataFrame, indexDir: String,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              params: graft.text.WinnowIndex.Params =
                                graft.text.WinnowIndex.Params())
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.text.WinnowIndex.ingestBatch(batch.sparkSession, indexDir,
            batch, idCol, textCol, params): Unit
      }

  /** True iff `dir` holds at least one COMMITTED part file. The
    * presence gate for absorbing-append corpus ingests: a crash during
    * the first append leaves the directory existing with only a
    * `_temporary` skeleton, and gating on bare exists would then read
    * an empty parquet dir (unable-to-infer-schema) on every replay —
    * permanently wedging the stream. Same discipline as
    * WinnowIndex/DedupIndex `hasData`. A crash that kills a task
    * MID-write leaves `_temporary/.../attempt_N/part-...` files whose
    * final name component matches a committed part — only
    * [[graft.ops.FsPaths.committedUnder]]'s hidden-ancestor filter
    * (Spark's own scan filter) tells them apart, so the gate applies
    * it; matching the last component alone would answer "committed"
    * for a directory whose read then throws on every replay. */
  private def hasCommittedData(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(p) && {
      val it = f.listFiles(p, true)
      var found = false
      while (it.hasNext && !found) {
        val st = it.next()
        found = st.getPath.getName.startsWith("part-") &&
          graft.ops.FsPaths.committedUnder(f, p, st.getPath)
      }
      found
    }
  }

  /** The shared idempotent-partials write: one micro-batch's partial
    * frame overwrites its OWN `batch_id=<id>` subdir, so a replayed
    * batch (crash between write and checkpoint commit) rewrites rather
    * than double-counts — the standard idempotent foreachBatch
    * discipline. Renders reduce `spark.read.parquet(dir)` over the
    * accumulated subdirs. `singleFile` coalesces the partial to one
    * file and is ONLY for partials whose row count is key-domain-sized
    * (sources, players, shards); partials that scale with the batch
    * (per-doc fingerprints) must keep their natural write parallelism. */
  def writeBatchPartial(partial: DataFrame, dir: String, batchId: Long,
                        singleFile: Boolean = true): Unit = {
    healPartials(partial.sparkSession, dir)
    val out = if (singleFile) partial.coalesce(1) else partial
    out.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
  }

  /** See [[graft.ops.Par.inParallel]] — kept as a local alias for the
    * streaming ingest call sites. */
  private[graft] def inParallel(stages: (() => Unit)*): Unit =
    graft.ops.Par.inParallel(stages: _*)

  /** The reserved batch_id the folded base partial lives under — never
    * a real micro-batch id (Structured Streaming batch ids start at 0),
    * so no replay can ever overwrite the folded history. */
  val CompactedBatchId: Long = -1L

  /** Heal a [[compactPartials]] interrupted mid-swap — the WinnowIndex
    * heal-on-open discipline applied to a partials root: an orphan
    * `<dir>__old` is the pre-compact tree (restore it if `<dir>` is
    * gone, else drop it); an orphan `<dir>__tmp` is a crashed rewrite's
    * staging copy, reclaimed. Idempotent; [[writeBatchPartial]] and the
    * renders call it on every open. */
  def healPartials(spark: SparkSession, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(dir)
    val f = live.getFileSystem(conf)
    val old = new org.apache.hadoop.fs.Path(s"${dir}__old")
    val tmp = new org.apache.hadoop.fs.Path(s"${dir}__tmp")
    if (f.exists(tmp)) f.delete(tmp, true)
    if (f.exists(old)) {
      if (!f.exists(live)) require(f.rename(old, live),
        s"healPartials: could not restore $old to $live")
      else f.delete(old, true)
    }: Unit
  }

  /** Compact a partials directory: fold every `batch_id=` subdir BELOW
    * the maximum id (plus any previous base) into one base partial under
    * `batch_id=`[[CompactedBatchId]], keep the max-id subdir as is, and
    * install the new tree via the two-rename swap healed by
    * [[healPartials]]. Without this, a long-running stream accumulates
    * one subdir per micro-batch forever and render cost drifts from data
    * to file-open overhead — the same file-count wall
    * [[graft.text.WinnowIndex.compact]] fixes for its fp table.
    *
    * Replay safety is WHY the max id is never folded: after a crash
    * between a sink write and its checkpoint commit, the one batch that
    * can be re-delivered is the LAST one (earlier ids have committed, or
    * the later ones could not have run). The replay overwrites its own
    * preserved `batch_id=` subdir exactly as before; folding it would
    * double-count its rows against the base. Folding is a pure file
    * reorganisation — rows are concatenated, never aggregated — so every
    * render reduces over the same multiset of rows before and after.
    *
    * NOT concurrent-safe against in-flight writes (an append landing
    * mid-swap would be lost with the old tree) — run it with the stream
    * quiesced, the WinnowIndex.compact contract. Returns the number of
    * subdirs folded (0 = nothing to do). */
  def compactPartials(spark: SparkSession, dir: String): Int = {
    healPartials(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new org.apache.hadoop.fs.Path(dir)
    val f = live.getFileSystem(conf)
    if (!f.exists(live)) return 0
    val subs = f.listStatus(live).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => s.getPath.getName.stripPrefix("batch_id=").toLong -> s.getPath)
      .sortBy(_._1)
    if (subs.isEmpty) return 0
    val maxId = subs.last._1
    val foldable = subs.filter(_._1 < maxId)
    if (foldable.size < 2) return 0 // already compact (base + max at most)
    val tmp = s"${dir}__tmp"
    // read the foldable subdirs DIRECTLY (leaf reads — no partition
    // discovery, so no batch_id column sneaks into the written schema)
    spark.read.parquet(foldable.map(_._2.toString): _*)
      .write.mode("overwrite")
      .parquet(s"$tmp/batch_id=$CompactedBatchId")
    // the kept max-id subdir is copied into the new tree (read+write of
    // ONE batch partial — bounded), so the swap replaces the whole root
    spark.read.parquet(subs.last._2.toString)
      .write.mode("overwrite").parquet(s"$tmp/batch_id=$maxId")
    val old = new org.apache.hadoop.fs.Path(s"${dir}__old")
    require(f.rename(live, old), s"compactPartials: could not stage $live aside")
    if (f.exists(live) || !f.rename(new org.apache.hadoop.fs.Path(tmp), live)) {
      f.delete(new org.apache.hadoop.fs.Path(tmp), true)
      if (!f.exists(live)) require(f.rename(old, live),
        s"compactPartials: could not restore $old after failed install")
      throw new IllegalStateException(
        s"compactPartials: could not install $tmp — concurrent open or fs " +
          "error; partials restored, re-run with the stream quiesced")
    }
    f.delete(old, true)
    foldable.size
  }

  /** Compact an absorbing-append CORPUS directory (the
    * [[fpDedupIngestBatch]] / [[dedupIngestBatch]] sinks): every
    * micro-batch appends its own parquet file set, so a long-running
    * ingest accumulates files forever and the per-batch presence scan
    * drifts from data cost to file-open overhead — the same wall
    * [[compactPartials]] closes for partials roots. The whole corpus is
    * rewritten into `targetFiles` files through the two-rename swap
    * healed by [[healPartials]] (both ingests and [[curationRender]]
    * heal on open). Pure file reorganisation — rows are concatenated,
    * never filtered or aggregated.
    *
    * Replay safety needs NO preserved subdir here, unlike partials:
    * these corpora absorb replays by CONTENT (the fingerprint/near-dup
    * anti-join), not by batch id, so a re-delivered batch filters to
    * empty against the compacted corpus exactly as it would against the
    * original files. NOT concurrent-safe against an in-flight ingest
    * (an append landing mid-swap would be lost with the old tree) — run
    * with the stream quiesced, the compactPartials contract. Returns
    * the number of data files before compaction (0 = nothing to do).
    * `sortCol` preserves a sorted-page layout through the rewrite (pass
    * `Some("__fp")` for the exact-dedup corpus, whose presence probe
    * page-prunes on the fp sort; the near-dup corpus has no sorted
    * column and passes None). */
  def compactCorpus(spark: SparkSession, corpusDir: String,
                    targetFiles: Int = 32,
                    sortCol: Option[String] = None): Int = {
    require(targetFiles >= 1, s"compactCorpus: targetFiles >= 1, got $targetFiles")
    healPartials(spark, corpusDir)
    if (!hasCommittedData(spark, corpusDir)) return 0
    val live = new org.apache.hadoop.fs.Path(corpusDir)
    val f = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // committed files only (hidden-ancestor filter): an orphaned
    // _temporary attempt from a crashed append must not inflate the
    // count and trigger rewrites of an already-compact corpus
    val nFiles = graft.ops.FsPaths.committedPartCount(f, live).toInt
    if (nFiles <= targetFiles) return 0
    val tmp = s"${corpusDir}__tmp"
    val live0 = spark.read.parquet(corpusDir)
    // sortCol: RANGE-partition + sort, not round-robin + sort — with
    // round-robin every output file spans the full key range, so a
    // point-set probe touches ~every page of ~every file and the
    // pushdown prunes nothing; disjoint per-file ranges are what make
    // a k-key probe touch O(k) pages total (COVERAGE.md, "Round-12
    // corpus compaction", measures this exact layout)
    sortCol.map(c => live0.repartitionByRange(targetFiles, col(c))
        .sortWithinPartitions(col(c)))
      .getOrElse(live0.repartition(targetFiles))
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", graft.ops.ScanPrune.PageRowLimit)
      .parquet(tmp)
    val old = new org.apache.hadoop.fs.Path(s"${corpusDir}__old")
    require(f.rename(live, old), s"compactCorpus: could not stage $live aside")
    if (f.exists(live) || !f.rename(new org.apache.hadoop.fs.Path(tmp), live)) {
      f.delete(new org.apache.hadoop.fs.Path(tmp), true)
      if (!f.exists(live)) require(f.rename(old, live),
        s"compactCorpus: could not restore $old after failed install")
      throw new IllegalStateException(
        s"compactCorpus: could not install $tmp — concurrent open or fs " +
          "error; corpus restored, re-run with the stream quiesced")
    }
    f.delete(old, true)
    nFiles
  }

  /** Quiesced-stream maintenance for a [[curationPipelineStream]]
    * root: fold every partials family ([[CardFamilies]] + the cap's
    * grouped bottom-k) and the exact-dedup corpus (fp-sorted range
    * layout preserved — the layout the presence probe page-prunes on).
    * Lives HERE, next to the ingests that own the directory layout, so
    * a family added to the pipeline is compacted by construction
    * instead of silently accumulating subdirs forever. Returns
    * (partials subdirs folded, corpus files folded). */
  def curationCompact(spark: SparkSession, pipeDir: String,
                      idCol: String = "doc_id",
                      leaseTtlMs: Long = LeaseTtlMs,
                      targetBytes: Long = 0L): (Int, Int) = {
    requireQuiesced(spark, pipeDir)
    // the fold runs HOLDING the writer lease (merely checking absence
    // would let a writer in another process acquire it and start
    // appending mid-swap); a caller that already holds it — the
    // managed stop path, a writer maintaining its own pipeline —
    // passes through and keeps its lease
    graft.ops.Lease.withHeld(spark, pipeDir, leaseTtlMs,
        "curation maintenance") {
    val partialRoots =
      CardFamilies.map(f => s"$pipeDir/card/$f") :+ s"$pipeDir/cap/bkg"
    val folded = partialRoots.map(d => compactPartials(spark, d)).sum
    // follow the corpus layout the pipeline wrote: the exact-dedup
    // corpus carries __fp and keeps its fp-sorted range layout (the
    // presence probe page-prunes on it); the near-dup corpus keeps its
    // ID-sorted layout (DedupIndex.ingestBatch's id-presence pushdown
    // page-prunes on THAT). Heal FIRST: a compactCorpus crashed
    // mid-swap leaves the corpus under __old, and probing the schema of
    // the missing live dir would mis-detect the layout — recompacting
    // it unsorted and silently voiding the presence probe's pruning
    val corpusDir = s"$pipeDir/corpus"
    healPartials(spark, corpusDir)
    val sortCol =
      if (!hasCommittedData(spark, corpusDir)) None
      else {
        val cols = spark.read.parquet(corpusDir).columns
        if (cols.contains("__fp")) Some("__fp")
        else if (cols.contains(idCol)) Some(idCol)
        else None
      }
    // when the caller maintains by a byte target, the corpus file
    // target derives from it (ceil(bytes/target), the Compaction
    // sizing) — otherwise a byte-due corpus below the fixed 32-file
    // wall would never actually fold and the policy could not re-arm
    val corpusTarget =
      if (targetBytes > 0L) {
        val cp = new org.apache.hadoop.fs.Path(corpusDir)
        val (_, bytes) = graft.ops.FsPaths.committedPartStats(
          cp.getFileSystem(spark.sparkContext.hadoopConfiguration), cp)
        math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      } else 32
    val files = compactCorpus(spark, corpusDir, targetFiles = corpusTarget,
      sortCol = sortCol)
    // a near-dup pipeline also folds its index's per-batch small files
    // (fp/sig/bands keep their probe-key sort through the rewrite)
    val idxPath = new org.apache.hadoop.fs.Path(s"$pipeDir/dedup_idx")
    if (idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(idxPath))
      // targetBytes = 0 means the callee's 128 MB default; its own
      // (index-dir) lease check passes — no lease lives there, the
      // pipeline's guard is pipeDir/_lease held above
      graft.text.DedupIndex.compact(spark, s"$pipeDir/dedup_idx",
        targetBytes): Unit
    (folded, files)
    }
  }

  /** The streaming-query name [[curationPipelineStream]] stamps on its
    * writer: `graft_curation:<pipeDir>`. This is what turns the
    * "compact only with the stream quiesced" contract from documentation
    * into an ENFORCED check — maintenance verbs look the name up in
    * `spark.streams.active` and refuse while the pipeline's query runs.
    * Callers who rename the query opt out of the enforcement (the
    * contract itself still binds them). */
  def curationQueryName(pipeDir: String): String = s"graft_curation:$pipeDir"

  /** How stale a writer lease's heartbeat may be before maintenance
    * treats the writer as crashed and reclaims the lease. Heartbeats
    * land on every micro-batch AND on every progress/idle event of a
    * [[curationPipelineStart]]-managed query (trigger cadence —
    * seconds), so ten minutes of silence is a dead writer, not a slow
    * one. */
  val LeaseTtlMs: Long = graft.ops.Lease.DefaultTtlMs

  /** Take the pipeline writer's exclusive `_lease` marker under
    * `pipeDir` — what makes the quiesced-maintenance contract hold
    * ACROSS processes: the in-JVM named-query check
    * ([[curationQueryName]]) sees only `spark.streams.active` in its
    * own JVM, so a SECOND Spark application compacting under a live
    * stream bypassed it entirely, and an append landing mid-swap was
    * lost with the old tree. With the lease, every maintenance verb
    * refuses while a live (recently-heartbeated) marker exists, in any
    * process. A live lease also refuses a second WRITER (single-writer
    * per pipeline is the contract the replay convergence relies on); a
    * stale one (crashed writer) is reclaimed with a loud log. The
    * mechanics live in [[graft.ops.Lease]] — the same guard every
    * persisted index's maintenance verbs check. */
  def acquireLease(spark: SparkSession, pipeDir: String,
                   ttlMs: Long = LeaseTtlMs): Unit =
    graft.ops.Lease.acquire(spark, pipeDir, ttlMs, "curation writer")

  /** Release the writer lease (no-op when absent — release must be
    * idempotent so stop paths can call it unconditionally; own-only —
    * a stalled writer whose lease was reclaimed must not delete its
    * successor's live marker). */
  def releaseLease(spark: SparkSession, pipeDir: String): Unit =
    graft.ops.Lease.release(spark, pipeDir)

  /** Refresh the lease heartbeat IF one is held — refresh-only, never
    * create: the unmanaged [[curationPipelineStream]] oracle paths run
    * without a lease (their post-stop compactions would otherwise be
    * refused by their own fresh marker), while a managed writer's
    * marker stays fresh through every batch. Returns whether the lease
    * is still OURS — the managed pipeline's per-batch fencing signal. */
  private def heartbeatLeaseIfHeld(spark: SparkSession, pipeDir: String): Boolean =
    graft.ops.Lease.heartbeatIfHeld(spark, pipeDir)

  // the per-batch fencing signal rides graft.ops.Lease's process-level
  // acquired-dirs registry: a MANAGED writer (acquired via
  // curationPipelineStart) that observes a foreign/absent lease was
  // reclaimed as stale (>TTL GC pause / partition) and must abort
  // instead of appending as a zombie; an UNMANAGED (lease-free)
  // pipeline run is never in the registry and never fenced.

  /** The in-JVM half of the quiesce check (the named active query);
    * the cross-process half is [[graft.ops.Lease.withHeld]] around the
    * maintenance fold itself — a live FOREIGN lease refuses there, a
    * stale one reclaims, and the fold runs holding the lease so no
    * writer can acquire mid-swap. */
  private def requireQuiesced(spark: SparkSession, pipeDir: String): Unit = {
    val name = curationQueryName(pipeDir)
    if (spark.streams.active.exists(q => q.name == name))
      throw new IllegalStateException(
        s"curation maintenance on $pipeDir refused: streaming query " +
          s"'$name' is active — an append landing mid-swap would be lost " +
          "with the old tree. Stop the stream, compact, restart from the " +
          "checkpoint (maintenance is restart-invisible).")
  }

  /** Is maintenance DUE on a [[curationPipelineStream]] root? One row
    * per maintainable component from fs METADATA only (subdir/file
    * counts — no parquet opened, no job run): each partials family's
    * `batch_id=` subdir count against `maxSubdirs`, the corpus's
    * committed part-file count and (when present) each dedup-index
    * table's — fp/sig/bands PER TABLE, the grain [[DedupIndex.compact]]
    * folds and [[DedupIndex.maintenanceDue]] reports; a lumped count
    * would trip the same threshold ~3x earlier through this verb than
    * through the sibling (and the never-folded params part file would
    * contribute a permanent +1). File-counted components also take the
    * byte rule when `targetBytes` > 0 ([[graft.ops.FsPaths.fileCountDue]]:
    * mean committed file size below half the compaction target —
    * deployments derive "too many files" from their byte target, not a
    * fixed count). Cheap enough to call at every stream stop; the
    * defaults are where render/probe cost starts drifting from data
    * to file-open overhead (the compactPartials/compactCorpus walls).
    * Drives [[curationCompactIfDue]]; also the `status` facade verb. */
  def maintenanceDue(spark: SparkSession, pipeDir: String,
                     maxSubdirs: Int = 64,
                     maxFiles: Int = 64,
                     targetBytes: Long = 0L): DataFrame = {
    require(maxSubdirs >= 1 && maxFiles >= 1,
      s"maintenanceDue: thresholds must be >= 1, got ($maxSubdirs, $maxFiles)")
    require(targetBytes >= 0L,
      s"maintenanceDue: targetBytes >= 0, got $targetBytes")
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    def subdirCount(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val f = p.getFileSystem(conf)
      if (!f.exists(p)) 0L
      else f.listStatus(p).count(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch_id=")).toLong
    }
    def fileRow(component: String, dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val perDir =
        graft.ops.FsPaths.committedPartDirStats(p.getFileSystem(conf), p)
      // mean_bytes is the policy-OPERATIVE mean (the worst multi-file
      // leaf dir — what the byte rule compares), not the global mean,
      // so a due=true row always shows the number that tripped it
      (component, perDir.map(_._1).sum, maxFiles.toLong,
        graft.ops.FsPaths.operativeMeanBytes(perDir), targetBytes,
        graft.ops.FsPaths.fileCountDue(perDir, maxFiles, targetBytes))
    }
    // partials subdirs are per-batch by construction (tiny, one per
    // micro-batch) — their cost driver is the subdir COUNT, so the
    // byte rule does not apply to them
    val partials = (CardFamilies.map(f => s"card/$f") :+ "cap/bkg").map { rel =>
      val n = subdirCount(s"$pipeDir/$rel")
      (rel, n, maxSubdirs.toLong, 0L, targetBytes, n >= maxSubdirs)
    }
    val corpus = Seq(fileRow("corpus", s"$pipeDir/corpus"))
    val idxP = new org.apache.hadoop.fs.Path(s"$pipeDir/dedup_idx")
    val idx =
      if (idxP.getFileSystem(conf).exists(idxP))
        Seq("fp", "sig", "bands").map(t =>
          fileRow(s"dedup_idx/$t", s"$pipeDir/dedup_idx/$t"))
      else Nil
    (partials ++ corpus ++ idx)
      .toDF("component", "n", "threshold", "mean_bytes", "target_bytes", "due")
  }

  /** The opt-in auto-compact hook for a quiesced stream stop: check the
    * policy ([[maintenanceDue]], fs metadata only), and run
    * [[curationCompact]] ONLY when some component is due — callers put
    * this after `query.stop()` and maintenance happens exactly when the
    * file counts say it should, never as a fixed-cost ritual. Refuses
    * (loudly, like every maintenance verb) while the pipeline's named
    * query is active. Returns (partials folded, corpus files folded) —
    * (0, 0) when nothing was due. */
  def curationCompactIfDue(spark: SparkSession, pipeDir: String,
                           maxSubdirs: Int = 64,
                           maxFiles: Int = 64,
                           idCol: String = "doc_id",
                           targetBytes: Long = 0L,
                           leaseTtlMs: Long = LeaseTtlMs): (Int, Int) = {
    requireQuiesced(spark, pipeDir)
    // held across the due-check AND the fold (the nested
    // curationCompact's withHeld passes through as our own)
    graft.ops.Lease.withHeld(spark, pipeDir, leaseTtlMs,
        "curation maintenance") {
      val due = maintenanceDue(spark, pipeDir, maxSubdirs, maxFiles,
        targetBytes).where(col("due")).count()
      if (due == 0L) (0, 0)
      else curationCompact(spark, pipeDir, idCol, leaseTtlMs, targetBytes)
    }
  }

  /** One micro-batch of the LIVE corpus data card: per-batch partials
    * land under `cardDir` keyed by the batch id (the
    * [[writeBatchPartial]] replay-proof discipline), [[dataCardRender]]
    * reduces them to the same frame `DataCard.perSource` computes over
    * the accumulated corpus.
    *
    * Two dup_ratio modes, chosen per CARD (the render follows whichever
    * layout the ingests wrote):
    *
    *  - exact (default): fingerprints are stored as per-batch DISTINCT
    *    sets (not anti-joined against prior state, which would break
    *    replay idempotence); the render counts DISTINCT over the union,
    *    so cross-batch duplicates collapse there. The fps partial is one
    *    row per distinct document in the BATCH (and corpus-sized
    *    accumulated under `cardDir/fps`), so the render's exact
    *    dup_ratio costs one corpus-sized distinct per read — the
    *    oracle-gated validation mode.
    *  - `dupSketch = true`: per-(source) HLL sketches of the batch's
    *    fingerprints land under `cardDir/fps_hll` instead — KB per
    *    batch like the stats partials, and the render merges sketches
    *    (`hll_union_agg`), so BOTH the stored state and the render cost
    *    are flat in the corpus; dup_ratio is then approximate
    *    (~±2% relative at the default lgK), clamped at 0. Replays
    *    rewrite their own sketch partial — same idempotence.
    *
    * The stats and langs partials are source-keyed aggregates — KB per
    * batch in either mode. A card must stick to ONE mode: the render
    * refuses a mixed layout rather than silently preferring one. */
  def dataCardIngestBatch(batch: DataFrame, cardDir: String, batchId: Long,
                          idCol: String = "doc_id", textCol: String = "text",
                          langCol: String = "lang",
                          sourceCol: String = "source",
                          dupSketch: Boolean = false): Unit = {
    import graft.text.{Readability, TextOps}
    val t = col(textCol)
    val nTok = when(length(trim(t)) === 0, lit(0L))
      .otherwise(size(TextOps.tokens(t)).cast("long"))
    // regex_count kernel: same engine/count as
    // size(regexp_extract_all(...)) without materializing the match
    // array per row (Spark's regexp_count is sugar for the array form)
    val pii = Seq(TextOps.urlPattern, TextOps.emailPattern,
        TextOps.ipv4Pattern, TextOps.phonePattern)
      .map(p => graft.functions.TextExpressions.regex_count(t, p))
      .reduce(_ + _)
    val base = batch.select(col(sourceCol).as("source"),
      col(langCol).as("lang"), nTok.as("__ntok"), pii.as("__pii"),
      Readability.readingEase(t).as("__ease"),
      TextOps.fingerprintMd5(t).as("fp")).transform(graft.ops.Pins.pin)
    // the three family partials are disjoint dirs computed from the one
    // checkpointed base — overlap them ([[inParallel]]) instead of
    // paying three sequential job+commit latencies per micro-batch
    inParallel(
      () => writeBatchPartial(base.groupBy(col("source")).agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("__ntok")).cast("long").as("n_tokens"),
          sum(col("__pii")).cast("long").as("pii_sum"),
          sum(col("__ease")).as("ease_sum"),
          count(col("__ease")).cast("long").as("ease_n")),
        s"$cardDir/stats", batchId),
      () => writeBatchPartial(base.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).cast("long").as("n")),
        s"$cardDir/langs", batchId),
      () =>
        if (dupSketch)
          writeBatchPartial(base.groupBy(col("source"))
              .agg(hll_sketch_agg(col("fp")).as("fp_sketch")),
            s"$cardDir/fps_hll", batchId)
        else
          writeBatchPartial(base.select(col("source"), col("fp")).distinct(),
            s"$cardDir/fps", batchId, singleFile = false))
  }

  /** Render the live card from the accumulated partials — the same
    * schema and semantics as `DataCard.perSource` over everything
    * ingested so far. Follows the ingest-time dup mode: exact when the
    * card holds `fps/` partials, HLL-merged when it holds `fps_hll/`
    * (a mixed layout is refused — the two modes answer with different
    * error contracts and must not silently blend). */
  /** The card's partials families — ONE owner for every consumer
    * (render heal, [[curationCompact]]): a family added here is
    * automatically healed and compacted everywhere. */
  val CardFamilies: Seq[String] = Seq("stats", "langs", "fps", "fps_hll")

  def dataCardRender(spark: SparkSession, cardDir: String): DataFrame = {
    CardFamilies.foreach(d => healPartials(spark, s"$cardDir/$d"))
    val conf = spark.sparkContext.hadoopConfiguration
    def has(d: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$cardDir/$d")
      p.getFileSystem(conf).exists(p)
    }
    require(!(has("fps") && has("fps_hll")),
      s"dataCardRender: $cardDir holds BOTH exact fps/ and sketch " +
        "fps_hll/ partials — a card must be ingested in one dup mode")
    val stats = spark.read.parquet(s"$cardDir/stats")
    val langs = spark.read.parquet(s"$cardDir/langs")
    val dup =
      if (has("fps_hll"))
        spark.read.parquet(s"$cardDir/fps_hll").groupBy(col("source"))
          .agg(hll_sketch_estimate(hll_union_agg(col("fp_sketch")))
            .cast("long").as("__nfp"))
      else
        spark.read.parquet(s"$cardDir/fps").groupBy(col("source"))
          .agg(countDistinct(col("fp")).cast("long").as("__nfp"))
    val main = stats.groupBy(col("source")).agg(
        sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        sum(col("pii_sum")).cast("long").as("__pii"),
        sum(col("ease_sum")).as("__esum"),
        sum(col("ease_n")).cast("long").as("__en"))
      .join(dup, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_docs"), 4)
          .as("mean_tokens"),
        // clamped at 0: HLL can overcount distincts slightly (exact
        // mode never goes negative, so the clamp is a no-op there)
        round(greatest(lit(0.0), (col("n_docs") - col("__nfp")).cast("double") /
          col("n_docs")), 4).as("dup_ratio"),
        round(col("__pii").cast("double") / col("n_docs"), 4)
          .as("pii_per_doc"),
        (round(col("__esum") / col("__en"), 4) + lit(0.0))
          .as("mean_reading_ease"))
    val langTop = langs.groupBy(col("source"), col("lang"))
      .agg(sum(col("n")).as("__n"))
      .groupBy(col("source")).agg(
        max_by(col("lang"), struct(col("__n"), col("lang"))).as("top_lang"),
        round(max(col("__n")).cast("double") / sum(col("__n")), 4)
          .as("top_lang_share"))
    main.join(langTop, "source")
  }

  /** Streaming data card: micro-batches fold into the persisted card
    * partials; read the live card any time with [[dataCardRender]].
    * Start with a checkpoint — replays rewrite their own batch_id
    * partials, so the card never double-counts. */
  def dataCardStream(docs: DataFrame, cardDir: String,
                     idCol: String = "doc_id", textCol: String = "text",
                     langCol: String = "lang", sourceCol: String = "source",
                     dupSketch: Boolean = false)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          dataCardIngestBatch(batch, cardDir, batchId, idCol, textCol,
            langCol, sourceCol, dupSketch)
      }

  /** One micro-batch of LIVE Bradley-Terry preference ratings: the
    * batch's (winner, loser) win counts land under `ratingsDir` keyed
    * by batch id — same idempotent-overwrite discipline as
    * [[dataCardIngestBatch]], so crash replays rewrite their own
    * partial instead of double-counting games. Partials are
    * players^2-sized, never stream-sized. */
  def prefGamesIngestBatch(batch: DataFrame, ratingsDir: String,
                           batchId: Long, winnerCol: String = "winner",
                           loserCol: String = "loser"): Unit =
    writeBatchPartial(
      batch.where(col(winnerCol) =!= col(loserCol))
        .groupBy(col(winnerCol).cast("string").as("winner"),
                 col(loserCol).cast("string").as("loser"))
        .agg(count(lit(1)).cast("long").as("n")),
      s"$ratingsDir/wins", batchId)

  /** One micro-batch of the LIVE uniform corpus sample: bottom-k by
    * deterministic md5 priority is a MERGEABLE sketch (the bottom-k of
    * a union is the bottom-k of the per-part bottom-ks), so each batch
    * lands only its own k smallest-priority rows as a replay-proof
    * [[writeBatchPartial]] partial (k rows, never batch-sized) and
    * [[sampleRender]] reduces the accumulated partials to the exact
    * uniform-k sample of EVERYTHING ingested — the streaming
    * reservoir-sample equivalent, deterministic and oracle-replayable
    * where a classical reservoir is RNG-and-order-dependent. Rows keep
    * their full payload, so the sample is directly usable. */
  def sampleIngestBatch(batch: DataFrame, sampleDir: String, batchId: Long,
                        idCol: String = "doc_id", k: Int = 100,
                        salt: String = "samp"): Unit = {
    require(k >= 1, s"sampleIngestBatch: k must be >= 1, got $k")
    checkOrWriteSampleParams(batch.sparkSession, sampleDir, k, salt)
    writeBatchPartial(
      batch.withColumn("__pri",
          md5(concat(lit(s"$salt:"), col(idCol).cast("string"))))
        .orderBy(col("__pri")).limit(k),
      s"$sampleDir/bk", batchId)
  }

  /** Pin (k, salt) at first ingest, CHECK on every later ingest and on
    * render: partials only keep the ingest-time bottom-k per batch, so
    * rendering more than that k (or mixing salts) would silently return
    * a non-bottom-k sample — the WinnowIndex params discipline. The
    * validated pin is memoized per dir so the per-micro-batch hot path
    * pays one fs-exists, not a parquet-read job, after the first batch. */
  private val sampleParamsCache = new java.util.concurrent.ConcurrentHashMap[
    String, ((Int, String), Seq[(String, Long, Long)])]()

  private def sampleParamsFingerprint(spark: SparkSession,
                                      sampleDir: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$sampleDir/params")
    graft.ops.FsPaths.dirFingerprint(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The memoized pin, revalidated per check against the params dir's
    * metadata fingerprint ([[graft.ops.FsPaths.dirFingerprint]], one
    * driver listStatus — no parquet read): a sample dir deleted and
    * re-created with different (k, salt) must re-pin against the NEW
    * dir, not validate against the dead dir's cached pin — even when
    * the recreate happened in another process while the dir existed at
    * check time (a bare fs-exists misses that). */
  private def cachedSampleParams(spark: SparkSession,
                                 sampleDir: String): Option[(Int, String)] = {
    val cached = sampleParamsCache.get(sampleDir)
    if (cached == null) None
    else if (cached._2 == sampleParamsFingerprint(spark, sampleDir))
      Some(cached._1)
    else {
      sampleParamsCache.remove(sampleDir)
      None
    }
  }

  private def checkOrWriteSampleParams(spark: SparkSession, sampleDir: String,
                                       k: Int, salt: String): Unit = {
    import spark.implicits._
    val stored: (Int, String) =
      cachedSampleParams(spark, sampleDir).getOrElse {
        val dir = s"$sampleDir/params"
        val p = new org.apache.hadoop.fs.Path(dir)
        val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a params dir with no COMMITTED file (a first pin that crashed
        // mid-write) is ABSENT, not corrupt: clear the residue and
        // re-pin instead of wedging on a schema-inference error
        val s0 =
          if (graft.ops.FsPaths.committedPartCount(fsys, p) > 0) {
            val r = spark.read.parquet(dir).head()
            (r.getAs[Int]("k"), r.getAs[String]("salt"))
          } else {
            if (fsys.exists(p)) fsys.delete(p, true): Unit
            Seq((k, salt)).toDF("k", "salt").coalesce(1).write.parquet(dir)
            (k, salt)
          }
        sampleParamsCache.put(sampleDir,
          (s0, sampleParamsFingerprint(spark, sampleDir)))
        s0
      }
    require(stored._1 == k && stored._2 == salt,
      s"sample at $sampleDir was ingested with (k, salt) = $stored; " +
        s"k=$k/salt=$salt would make the accumulated partials " +
        "non-bottom-k (each batch keeps exactly its pinned k)")
  }

  /** The pinned ingest k for render checks; None for a dir with no
    * params (pre-pinning layout) — render then trusts the caller's k,
    * the pre-params behavior. */
  private def storedSampleK(spark: SparkSession, sampleDir: String): Option[Int] = {
    cachedSampleParams(spark, sampleDir).foreach(c => return Some(c._1))
    val dir = s"$sampleDir/params"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // uncommitted residue (crashed first pin) reads as absent — the
    // pre-pinning behavior — instead of wedging the render
    if (graft.ops.FsPaths.committedPartCount(fsys, p) == 0) None
    else {
      val r = spark.read.parquet(dir).head()
      val s0 = (r.getAs[Int]("k"), r.getAs[String]("salt"))
      sampleParamsCache.put(sampleDir,
        (s0, sampleParamsFingerprint(spark, sampleDir)))
      Some(s0._1)
    }
  }

  /** The live sample: global bottom-k over the accumulated partials
    * (partials are k rows per batch — the reduce is tiny). Documents
    * ingested twice (replays, re-deliveries ACROSS batches) collapse:
    * priority is a pure function of the id, so duplicates tie and one
    * row per id survives the distinct. `k` must not exceed the pinned
    * ingest k (checked — partials never kept more). */
  def sampleRender(spark: SparkSession, sampleDir: String, k: Int = 100)
      : DataFrame = {
    storedSampleK(spark, sampleDir).foreach(pinned => require(k <= pinned,
      s"sampleRender: k=$k exceeds the ingest-time k=$pinned " +
        "— partials never kept more than that per batch"))
    healPartials(spark, s"$sampleDir/bk")
    spark.read.parquet(s"$sampleDir/bk")
      .dropDuplicates("__pri")
      .orderBy(col("__pri")).limit(k)
      .drop("__pri", "batch_id")
  }

  /** Streaming uniform corpus sampling: micro-batches fold into the
    * persisted bottom-k partials; read the live exact-k sample any time
    * with [[sampleRender]]. Start with a checkpoint — replays rewrite
    * their own batch_id partial. */
  def sampleStream(docs: DataFrame, sampleDir: String,
                   idCol: String = "doc_id", k: Int = 100,
                   salt: String = "samp")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          sampleIngestBatch(batch, sampleDir, batchId, idCol, k, salt)
      }

  /** The grouped form of [[sampleIngestBatch]]: per-GROUP bottom-k by
    * md5 priority — the live stratified sample, and equally the live
    * per-source cap ("keep at most k docs per source, deterministic")
    * since per-group bottom-k IS a cap with a reproducible keep rule.
    * Partials are (groups-in-batch) x k rows; the render reduces to the
    * exact per-group bottom-k of everything ingested. */
  def sampleByIngestBatch(batch: DataFrame, sampleDir: String, batchId: Long,
                          groupCol: String, idCol: String = "doc_id",
                          k: Int = 100, salt: String = "samp"): Unit = {
    require(k >= 1, s"sampleByIngestBatch: k must be >= 1, got $k")
    checkOrWriteSampleParams(batch.sparkSession, sampleDir, k, salt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__pri"))
    writeBatchPartial(
      batch.withColumn("__pri",
          md5(concat(lit(s"$salt:"), col(idCol).cast("string"))))
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= k).drop("__rn"),
      s"$sampleDir/bkg", batchId, singleFile = false)
  }

  /** The live per-group sample/cap: reduce the accumulated grouped
    * partials to the exact per-group bottom-k. Cross-batch duplicate
    * ids collapse on the deterministic priority. */
  def sampleByRender(spark: SparkSession, sampleDir: String,
                     groupCol: String, k: Int = 100): DataFrame = {
    storedSampleK(spark, sampleDir).foreach(pinned => require(k <= pinned,
      s"sampleByRender: k=$k exceeds the ingest-time k=$pinned " +
        "— partials never kept more than that per group per batch"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__pri"))
    healPartials(spark, s"$sampleDir/bkg")
    spark.read.parquet(s"$sampleDir/bkg")
      .dropDuplicates("__pri")
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn", "__pri", "batch_id")
  }

  /** Streaming per-group sampling/capping; see [[sampleByIngestBatch]].
    * Start with a checkpoint — replays rewrite their own partial. */
  def sampleByStream(docs: DataFrame, sampleDir: String, groupCol: String,
                     idCol: String = "doc_id", k: Int = 100,
                     salt: String = "samp")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          sampleByIngestBatch(batch, sampleDir, batchId, groupCol,
            idCol, k, salt)
      }

  /** One micro-batch of LIVE bitext mining — the streaming form of the
    * align -> mine composition (`q_x_multiling_pipeline`'s first two
    * stages): align the incoming source vectors with a FROZEN
    * Procrustes map, margin-mine them against the static target side,
    * land the mined pairs as a replay-proof [[writeBatchPartial]]
    * batch_id partial (fourth adopter of the shared discipline).
    * Margin neighborhoods are per batch on the source side — the
    * streaming semantics: a batch's pairs depend on the batch plus the
    * full target side, never on future batches. */
  def bitextMineIngestBatch(batch: DataFrame, tgt: DataFrame,
                            w: Array[Array[Double]], outDir: String,
                            batchId: Long, idCol: String = "vec_id",
                            vecCol: String = "embedding", k: Int = 4,
                            minMargin: Double = 1.0): Unit = {
    val aligned = graft.vec.Align.applyMap(batch, vecCol, "__a", w)
      .select(col(idCol), col("__a").as(vecCol))
    writeBatchPartial(
      graft.vec.Bitext.minePairs(aligned, tgt, idCol, vecCol, k, minMargin),
      s"$outDir/pairs", batchId, singleFile = false)
  }

  /** Streaming bitext mining: source vectors arriving on a stream are
    * aligned + mined per micro-batch against the static target side;
    * read the accumulated pairs any time with [[bitextPairsRender]].
    * Start with a checkpoint — replays rewrite their own batch_id
    * partial. */
  def bitextMineStream(src: DataFrame, tgt: DataFrame,
                       w: Array[Array[Double]], outDir: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding", k: Int = 4,
                       minMargin: Double = 1.0)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    src.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          bitextMineIngestBatch(batch, tgt, w, outDir, batchId,
            idCol, vecCol, k, minMargin)
      }

  /** The accumulated mined pairs, healed first: like every
    * [[writeBatchPartial]] family, the pairs dir is compactPartials-
    * managed, so a raw `spark.read.parquet` would fail if a compaction
    * crashed mid-swap (live renamed away, data intact under `__old`) —
    * the render must heal before reading, exactly as the card/sample/
    * ratings renders do. */
  def bitextPairsRender(spark: SparkSession, outDir: String): DataFrame = {
    healPartials(spark, s"$outDir/pairs")
    spark.read.parquet(s"$outDir/pairs")
  }

  /** One micro-batch of the exact-dedup corpus ingest the curation
    * pipeline uses: drop batch rows whose normalized-text fingerprint is
    * already in the corpus (and in-batch fp duplicates), append the
    * survivors WITH their fingerprint (the corpus stores `__fp` so the
    * presence check is a column-pruned scan riding the broadcast side of
    * two joins — the vecIndexIngestBatch discipline; nothing corpus-sized
    * ever shuffles). Replay-absorbed: a re-delivered batch's fps all
    * match what the first delivery appended and the batch filters to
    * empty. The corpus row count is therefore exactly COUNT(DISTINCT fp)
    * of everything ingested — order-independent, which is what lets the
    * full pipeline render hash-match a SQL oracle. Null texts are
    * dropped: a null fingerprint never equi-matches the anti-join, so
    * a null-text row would re-append on EVERY batch, silently inflating
    * the corpus past its distinct-fp contract. The presence gate is
    * [[hasCommittedData]], not bare exists — a crash during the very
    * first append leaves the directory with a `_temporary` skeleton and
    * no committed part files, and a bare-exists gate would then throw
    * unable-to-infer-schema on every replay, wedging the stream.
    *
    * Named for its KEY — the text fingerprint. An earlier signature
    * took (batch, dir, idCol, textCol); when the unused idCol was
    * dropped, a stale 3-arg caller `(b, dir, "doc_id")` would have
    * COMPILED against `(batch, dir, textCol)` and silently
    * fingerprinted the id column. The rename makes that break loud:
    * no method of the old name exists to mis-bind against. */
  def fpDedupIngestBatch(batch: DataFrame, corpusDir: String,
                         textCol: String = "text"): Long = {
    import graft.text.TextOps
    val spark = batch.sparkSession
    healPartials(spark, corpusDir) // restore a compactCorpus mid-swap crash
    val withFp = batch
      .withColumn("__fp", TextOps.fingerprintMd5(col(textCol)))
      .where(col("__fp").isNotNull)
      .dropDuplicates("__fp")
    val fresh =
      if (hasCommittedData(spark, corpusDir)) {
        // every corpus file is written fp-sorted with page-capped rows
        // (below), so once the corpus clears ScanPrune's size gate a
        // trickle batch's presence check reads only the pages its fps
        // can touch — the DedupIndex probe discipline, instead of a
        // full (column-pruned but corpus-sized) fp scan per batch.
        // This is a FULL-ROW table (docs, not an fp-only index), so the
        // gate weighs the pushdown's ~1 s tree cost against the bytes
        // the scan actually reads — the fp COLUMN's footer-summed size,
        // behind the cheap total-size precheck (total >= threshold is
        // necessary for any column to reach it)
        val sp = graft.ops.ScanPrune
        val fpScan = spark.read.parquet(corpusDir).select(col("__fp"))
        val total = sp.tableBytes(spark, corpusDir)
        val scan =
          if (total >= sp.PushMinTableBytes &&
              sp.columnGate(spark, corpusDir, "__fp", total))
            sp.prunedScanDf(spark, corpusDir, fpScan, "__fp",
              withFp.select(col("__fp")), minTableBytes = 0L)
          else fpScan
        val present = scan
          .join(broadcast(withFp.select(col("__fp"))), Seq("__fp"), "left_semi")
        withFp.join(broadcast(present), Seq("__fp"), "left_anti")
      } else withFp
    val kept = fresh.transform(graft.ops.Pins.pin)
    val n = kept.count()
    if (n > 0) kept.sortWithinPartitions(col("__fp"))
      .write.mode("append")
      .option("parquet.page.row.count.limit", graft.ops.ScanPrune.PageRowLimit)
      .parquet(corpusDir)
    n
  }

  /** The END-TO-END live curation pipeline — the streaming twin of the
    * batch `q_x_corpus_pipeline_v2` composition, chaining the proven
    * live pieces over one stream: benchmark DECONTAMINATION (the gated
    * row-local kernel, planned once on the stream), then per batch of
    * survivors the live DATA CARD partials, the per-source CAP partials
    * (grouped bottom-k — the deterministic stratified sample), and the
    * exact-dedup CORPUS ingest. Every stage is either row-local or a
    * replay-proof idempotent partial/absorbing append, so a crash replay
    * changes nothing — and every stage is order-independent at render
    * time, which is why [[curationRender]] is hash-checkable against one
    * batch SQL oracle over the same input.
    *
    * `dupSketch` selects the card's dup_ratio mode (see
    * [[dataCardIngestBatch]]): the exact default keeps the pipeline
    * oracle-gated but accumulates one `fps/` row per distinct doc —
    * corpus-sized card state, and a corpus-sized distinct at every
    * render. A DEPLOYED pipeline should pass `dupSketch = true`: the
    * card's fp state collapses to per-source HLL sketches (KB per
    * batch), render cost goes flat in the corpus, and dup_ratio becomes
    * approximate (~±2% relative) — every other rendered column is
    * unchanged and stays exact. The mode is pinned at the card's first
    * batch ([[dataCardRender]] refuses a mixed layout), so flipping it
    * on an EXISTING pipeline root is refused rather than blended.
    *
    * `nearDedup` upgrades the corpus stage from exact-fingerprint to
    * NEAR-duplicate dedup backed by the persisted
    * [[graft.text.DedupIndex]] at `pipeDir/dedup_idx`: each batch is
    * probed against the index (fp anti-join, then banded-LSH candidates
    * -> signature estimate -> exact-Jaccard verify against candidate
    * corpus texts only) and survivors append to the corpus AND the
    * index. Per-batch cost stays flat as the corpus grows — the corpus
    * is never re-signed and never shuffles (the DedupIndex contract,
    * flat-at-10x probed) — where the scan-form near-dup ingest
    * ([[dedupIngestBatch]]) re-reads the accumulated corpus per batch.
    * Replay-absorbed like the exact stage: a re-delivered batch's fps
    * all match its first delivery's index rows. The card and cap keep
    * auditing every DECONTAMINATED doc (their established semantics);
    * only corpus membership changes. The near-dup corpus stores the
    * batch's own row shape (no __fp column, no fp-sorted layout —
    * presence probes run against the index's own sorted fp table
    * instead); [[curationCompact]] follows whichever layout it finds.
    * Params are pinned at the index's first batch, so changing them on
    * an existing pipeline root is refused, not silently blended. */
  def curationPipelineStream(docs: DataFrame, pipeDir: String,
                             benchmark: DataFrame,
                             benchTextCol: String = "text", n: Int = 5,
                             capK: Int = 20, idCol: String = "doc_id",
                             textCol: String = "text",
                             langCol: String = "lang",
                             sourceCol: String = "source",
                             dupSketch: Boolean = false,
                             nearDedup: Option[graft.text.DedupIndex.Params] = None)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    val gated = decontaminateStream(docs, benchmark, textCol, benchTextCol, n)
    gated.writeStream.outputMode("append")
      // the name is the maintenance verbs' non-concurrency guard — see
      // [[curationQueryName]]
      .queryName(curationQueryName(pipeDir))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // keep a held writer lease fresh on every batch (refresh-only:
        // unmanaged runs carry no lease and stay lease-free) — and
        // SELF-FENCE: a managed writer that lost its lease (reclaimed
        // as stale after a >TTL stall) fails the query before this
        // batch appends as a zombie under the new holder's feet; the
        // query restarts from its checkpoint once the new holder is done
        graft.ops.Lease.fenceIfLost(batch.sparkSession, pipeDir)
        if (!batch.isEmpty) {
          // one materialization feeds all three consumers — the
          // checkpointed-frames discipline from the batch pipeline
          val b = batch.transform(graft.ops.Pins.pin)
          // card, cap and corpus are disjoint directory families with no
          // ordering contract between them (each is replay-idempotent on
          // its own): overlap them ([[inParallel]]) so the micro-batch
          // pays one wall-clock of the slowest stage, not the sum
          inParallel(
            () => dataCardIngestBatch(b, s"$pipeDir/card", batchId, idCol,
              textCol, langCol, sourceCol, dupSketch),
            () => sampleByIngestBatch(b, s"$pipeDir/cap", batchId, sourceCol,
              idCol, capK),
            () => nearDedup match {
              case Some(p) =>
                // heal a compactCorpus mid-swap crash BEFORE the index
                // ingest opens the corpus — a renamed-away corpus would
                // read as empty and silently re-admit every duplicate
                healPartials(b.sparkSession, s"$pipeDir/corpus")
                graft.text.DedupIndex.ingestBatch(b, s"$pipeDir/corpus",
                  s"$pipeDir/dedup_idx", idCol, textCol, p): Unit
              case None =>
                fpDedupIngestBatch(b, s"$pipeDir/corpus", textCol): Unit
            })
        }
      }
  }

  /** The MANAGED pipeline start — [[curationPipelineStream]] plus the
    * deployment lifecycle a long-lived writer needs, in one call:
    *
    *  1. the exclusive writer `_lease` is taken BEFORE the stream
    *     starts ([[acquireLease]] — a second writer, or maintenance in
    *     any process, is refused while the query lives) and released
    *     when it terminates;
    *  2. the lease heartbeat stays fresh through every progress AND
    *     idle event (a between-batches stream with no arriving data
    *     must not go stale and get reclaimed under a live writer) on
    *     top of the per-batch refresh — which also SELF-FENCES: a
    *     writer whose lease was reclaimed (it stalled past the TTL —
    *     GC pause, partition — and another process took over) fails
    *     its query at the next batch instead of appending as a zombie
    *     under the new holder;
    *  3. when `compactOnStop` (the default), [[curationCompactIfDue]]
    *     runs exactly once AFTER the query terminates — deployments get
    *     the maintenance cadence without a manual call, and the
    *     ordering makes it safe by construction: termination removes
    *     the query from `spark.streams.active` first, the compact then
    *     runs UNDER the writer's still-held lease (withHeld passes
    *     through our own marker) so no other process can write or
    *     maintain mid-fold, and the lease release afterwards is the
    *     cross-process all-clear.
    *
    * Returns the RUNNING query (the writer is configured with
    * `checkpointDir` and started). Listener failures surface on stderr
    * rather than failing the terminated query — by then there is no
    * query left to fail. */
  def curationPipelineStart(docs: DataFrame, pipeDir: String,
                            benchmark: DataFrame, checkpointDir: String,
                            benchTextCol: String = "text", n: Int = 5,
                            capK: Int = 20, idCol: String = "doc_id",
                            textCol: String = "text",
                            langCol: String = "lang",
                            sourceCol: String = "source",
                            dupSketch: Boolean = false,
                            nearDedup: Option[graft.text.DedupIndex.Params] = None,
                            compactOnStop: Boolean = true,
                            maxSubdirs: Int = 64, maxFiles: Int = 64,
                            targetBytes: Long = 0L,
                            leaseTtlMs: Long = LeaseTtlMs)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    acquireLease(spark, pipeDir, leaseTtlMs) // registers for fencing too
    val query =
      try curationPipelineStream(docs, pipeDir, benchmark, benchTextCol, n,
          capK, idCol, textCol, langCol, sourceCol, dupSketch, nearDedup)
        .option("checkpointLocation", checkpointDir)
        .start()
      catch { case e: Throwable => releaseLease(spark, pipeDir); throw e }
    val qid = query.id
    // shared by the listener and the missed-event fallback below. The
    // once-guard matters: the fallback can otherwise run CONCURRENTLY
    // with a late-delivered terminated event on the listener bus, and
    // two simultaneous compactions race each other's tmp-write + swap
    // (idempotence only holds sequentially).
    val terminatedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
    def handleTerminated(remove: Option[org.apache.spark.sql.streaming.StreamingQueryListener]): Unit = {
      if (!terminatedOnce.compareAndSet(false, true)) {
        remove.foreach(spark.streams.removeListener)
        return
      }
      try {
        // compact UNDER the still-held lease (withHeld passes through
        // our own marker), so no other process can start writing or
        // maintaining mid-fold; releasing the lease is the all-clear,
        // released in finally even when the compact fails (a wedged
        // marker would block everyone for a TTL)
        if (compactOnStop)
          curationCompactIfDue(spark, pipeDir, maxSubdirs, maxFiles,
            idCol, targetBytes, leaseTtlMs): Unit
      } catch {
        case ex: Exception => System.err.println(
          s"[graft] post-termination maintenance on $pipeDir failed: $ex")
      } finally {
        // release is own-only: if this writer was fenced (lease
        // reclaimed mid-run), the new holder's marker is left intact
        // (and the fencing registration is dropped either way)
        try releaseLease(spark, pipeDir)
        finally remove.foreach(spark.streams.removeListener)
      }
    }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.id == qid) heartbeatLeaseIfHeld(spark, pipeDir)
      override def onQueryIdle(e: QueryIdleEvent): Unit =
        if (e.id == qid) heartbeatLeaseIfHeld(spark, pipeDir)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == qid) handleTerminated(remove = Some(this))
    }
    spark.streams.addListener(listener)
    // belt-and-braces: a query that died in the instant BEFORE the
    // listener landed on the bus would otherwise leak the lease (until
    // its TTL) and the listener (forever). The once-guard makes this
    // safe against a late-delivered terminated event: whichever copy
    // loses the CAS only removes the listener.
    if (!spark.streams.active.exists(_.id == qid))
      handleTerminated(remove = Some(listener))
    query
  }

  /** The live pipeline audit row per source: the data card over every
    * decontaminated doc, the per-source cap's kept count and minimum
    * kept doc id (the deterministic keep rule, so both are
    * oracle-checkable), and the global deduped corpus size (a
    * driver-held count — one column, same value each row, the corpus's
    * distinct-fingerprint total). */
  def curationRender(spark: SparkSession, pipeDir: String,
                     capK: Int = 20, idCol: String = "doc_id",
                     sourceCol: String = "source"): DataFrame = {
    val card = dataCardRender(spark, s"$pipeDir/card")
    val cap = sampleByRender(spark, s"$pipeDir/cap", sourceCol, capK)
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).cast("long").as("cap_n"),
        min(col(idCol)).as("cap_min_doc"))
    healPartials(spark, s"$pipeDir/corpus") // compactCorpus mid-swap crash
    // the corpus total rides the render query as a 1-row aggregate
    // (broadcast cross join) instead of an EAGER driver count(): one
    // job per render instead of two, and the corpus scan overlaps the
    // card/cap scans inside it — same column, same value
    val corpusDocs = spark.read.parquet(s"$pipeDir/corpus")
      .groupBy().agg(count(lit(1)).cast("long").as("corpus_docs"))
    card.join(cap, "source").crossJoin(corpusDocs)
  }

  /** Render the live ratings: reduce the accumulated win partials and
    * run the same fixed-iteration MM solve as the batch
    * `Labels.bradleyTerry` — ratings over everything ingested so far. */
  def bradleyTerryRender(spark: SparkSession, ratingsDir: String,
                         iters: Int = 8): DataFrame = {
    healPartials(spark, s"$ratingsDir/wins")
    graft.text.Labels.bradleyTerryCounts(
      spark.read.parquet(s"$ratingsDir/wins"),
      "winner", "loser", "n", iters)
  }

  /** Streaming preference-rating ingest: game outcomes arriving on a
    * stream fold into the persisted win matrix; read the live ratings
    * any time with [[bradleyTerryRender]]. */
  def bradleyTerryStream(games: DataFrame, ratingsDir: String,
                         winnerCol: String = "winner",
                         loserCol: String = "loser")
      : DataStreamWriter[org.apache.spark.sql.Row] =
    games.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          prefGamesIngestBatch(batch, ratingsDir, batchId,
            winnerCol, loserCol)
      }

  /** Wire a streaming query to an in-memory sink (used by tests; a real
    * deployment points this at kafka/parquet with a checkpoint). */
  def toMemorySink(df: DataFrame, name: String,
                   mode: OutputMode = OutputMode.Append()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime("1 second"))
}
