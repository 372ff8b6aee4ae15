package graft.queries

import graft.functions.ExactNum.cents
import graft.sources.Tables
import graft.streaming.{DocsStreaming, EventsStreaming, Replay}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch queries over the `events` stream table (TESTDATA.md). The
  * tumbling-window aggregate here is the batch twin of the Structured
  * Streaming pipeline in graft.streaming — same grouping semantics, so
  * the oracle check covers the streaming aggregation logic too.
  *
  * Note on time: Tables.events yields micros timestamps for both ts
  * layouts the driver has shipped (legacy nanos truncate on read).
  * Outputs only expose hour-truncated buckets, so a sub-microsecond
  * difference can never reach the compare.
  */
object Events {

  /** Tumbling 1-hour window aggregation (streaming A4-class): count +
    * exact value cents per (hour, event_type). At scale this is one
    * shuffle on (hour, type) after map-side partial aggregation.
    */
  private def q16(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(cents(col("value"))).as("value_cents"))
      .orderBy(col("hour"), col("event_type"))

  private val q16Sql =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Salted hot-key join (q32, round-9): `event_type` has only 5
    * distinct values, so a plain shuffle join on it lands every row on
    * at most 5 reducers no matter the cluster size — each key IS a hot
    * key (the classic low-cardinality fact-to-dim skew). The registered
    * query runs Salting.saltedJoin with 8 salts over a shuffle_hash-
    * hinted dim, splitting each key across 8 reducers; results are
    * IDENTICAL to the plain join (salting changes placement, never
    * membership — LayoutSaltingAsOfSpec pins identity under a 10k-row
    * hot key), so the oracle is simply the unsalted SQL join. The hint
    * keeps the measured path a genuine shuffle join: without it the
    * 40-row salted dim would broadcast and the bench would time the
    * broadcast path instead of the skew-mitigation one. Weighted sum is
    * exact integer cents × the type's char length, so the aggregate is
    * order-independent across any placement. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dim = ev.select(col("event_type")).distinct()
      .withColumn("w", length(col("event_type")).cast("long"))
    graft.operators.Salting
      .saltedJoin(ev, dim.hint("shuffle_hash"), "event_type", salt = 8)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(cents(col("value")) * col("w")).as("wsum_cents"))
      .orderBy(col("event_type"))
  }

  private val q32Sql =
    """SELECT e.event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT) * len(e.event_type)) AS BIGINT) AS wsum_cents
      |FROM events e
      |JOIN (SELECT DISTINCT event_type FROM events) d
      |  ON e.event_type = d.event_type
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** F9-class JSON field access (reference API-response projection,
    * etl1.py:160-167): pull `k` out of the props JSON and aggregate.
    * get_json_object is codegen'd — no UDF, no full JSON parse per field
    * at scale (single-path extraction).
    */
  private def q17(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("k_sum"),
        count(col("k")).as("k_present"))
      .orderBy(col("event_type"))

  private val q17Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_present
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** As-of join (q20): for each purchase, the most recent strictly-prior
    * error event of the same user — composed from a tagged ignore-nulls
    * window (operators.AsOfJoin), one shuffle on the key. The oracle
    * runs the identical window logic, so tie semantics are pinned. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    graft.operators.AsOfJoin.priorRefId(
      Tables.events(s, dir),
      keyCol = "user_id", timeCol = "ts", tieCol = "event_id",
      refPred = col("event_type") === "error",
      probePred = col("event_type") === "purchase",
      outCol = "prior_error_id")
      .select(col("event_id"), col("user_id"), col("prior_error_id"))
      .orderBy(col("event_id"))

  private val q20Sql =
    """SELECT event_id, user_id, prior_error_id
      |FROM (
      |  SELECT event_id, user_id, event_type,
      |    last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_error_id
      |  FROM events
      |  WHERE event_type IN ('error', 'purchase'))
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  /** Streaming runtime end-to-end (q29): run the Structured Streaming
    * pipeline — file-stream source, 30-minute watermark, tumbling-window
    * aggregation, foreachBatch parquet sink — to completion through
    * `Replay.runBounded`, then read the sink back as the result. The
    * aggregation is the streaming twin of q16, so q16's SQL is an exact
    * oracle for what the STREAMING RUNTIME produced (not just the
    * logical aggregation shape, which q16 already pins). Complete mode
    * recomputes every window per micro-batch, so the bounded-source run
    * converges to the batch answer regardless of how the source splits
    * into micro-batches. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val hourly = EventsStreaming.hourlyAgg(EventsStreaming.readEventsStream(s, dir))
    Replay.runBounded(s, "q29", hourly.schema) { sink =>
      Replay.parquetSink(hourly, sink, "complete", "overwrite")
    }.orderBy(col("hour"), col("event_type"))
  }

  /** Batch sessionization (q30): gap-based sessions per user — a new
    * session starts when >30 min separates consecutive events. The
    * batch twin of the streaming session windows, and the classic
    * lag-then-running-sum window composition. All session math runs on
    * integer microseconds (unix_micros here, epoch_ns//1000 in the
    * oracle) so the nanos→micros read truncation can never flip a gap
    * comparison between engines.
    *
    * Scale shape: both windows and the final regroup partition by
    * user_id — sessions parallelize across users, no global window
    * funnels the event log through one task. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessionize.assign(
        Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id")),
        col("user_id"), col("ts_us"), col("event_id"),
        gap = 30L * 60 * 1000000)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
      .orderBy(col("user_id"), col("session_seq"))

  private val q30Sql =
    """WITH ev AS (
      | SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id FROM events),
      |marked AS (
      | SELECT user_id, ts_us, event_id,
      |   CASE WHEN lag(ts_us) OVER w IS NULL
      |          OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS nw
      | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (
      | SELECT user_id, ts_us,
      |   CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        AS BIGINT) AS session_seq
      | FROM marked)
      |SELECT user_id, session_seq,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
      |  MAX(ts_us) - MIN(ts_us) AS dur_us
      |FROM sess
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Streaming sessionization through the real runtime (q31): file
    * stream → per-user `session_window` (30-minute gap) → foreachBatch
    * parquet sink, read back after the bounded run completes — the
    * streaming twin of q30, through the runtime like q29. The oracle
    * mirrors session_window's OWN semantics, which differ from
    * Sessionize's in two pinned ways: merge is strictly-less-than the
    * gap (an event at exactly last+gap starts a NEW session, where
    * Sessionize keeps it), and the session end is last-event + gap
    * (not the last event itself). All comparisons run on integer
    * micros, so the nanos→micros read truncation can't flip a
    * boundary. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val sessions = EventsStreaming.userSessions(
      EventsStreaming.readEventsStream(s, dir), gap = "30 minutes")
    Replay.runBounded(s, "q31", sessions.schema) { sink =>
      Replay.parquetSink(sessions, sink, "complete", "overwrite",
        confs = EventsStreaming.mergeSessionsLocally)
    }.select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), col("value_cents"))
      .orderBy(col("user_id"), col("start_us"))
  }

  private val q31Sql =
    """WITH ev AS (
      | SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
      |   CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      | FROM events),
      |marked AS (
      | SELECT user_id, ts_us, event_id, cents,
      |   CASE WHEN lag(ts_us) OVER w IS NULL
      |          OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS nw
      | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |sess AS (
      | SELECT user_id, ts_us, cents,
      |   CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        AS BIGINT) AS session_seq
      | FROM marked)
      |SELECT user_id, MIN(ts_us) AS start_us,
      |  MAX(ts_us) + 1800000000 AS end_us,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS value_cents
      |FROM sess
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, start_us""".stripMargin

  /** Streaming cross-batch exact dedup (q33, round-18): the documents
    * table replays as 4 id-ordered chunk files (one micro-batch each),
    * and `DocsStreaming.dedupDocsStream` keeps ONE copy per canonical
    * text form across batches via flatMapGroupsWithState — explicit
    * seen-form state carried through the streaming state store, NOT a
    * per-batch dropDuplicates. Because the replay is id-ordered, the
    * bounded run's sink equals the batch `Dedup.dropExactDuplicates`
    * answer row-for-row, so the STREAMING RUNTIME (state store,
    * cross-batch carry, append emission) gets an exact batch-SQL
    * oracle; the out-of-order and checkpoint-restart state semantics
    * are pinned in StreamingSpec. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    // the gate corpora carry ZERO exact duplicates (verified at every
    // driver SF), so the registered replay INJECTS deterministic
    // copies — the d38/d20 precedent: ids offset by 10M/20M sort into
    // the LAST chunks, so suppression provably crosses micro-batches
    // (and the doubled %14 copies land in one chunk, exercising the
    // within-batch minimum too); the oracle mirrors the injection
    val base = graft.sources.Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val docs = base
      .unionByName(base.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .unionByName(base.filter(pmod(col("doc_id"), lit(14)) === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
    // q33.state_rows should equal the distinct canonical forms seen —
    // the measured state ∝ distinct-forms curve
    val chunks = Replay.scratchDir("graft_doc_chunks")
    Replay.stageChunks(docs, "doc_id", 4, chunks)
    val deduped = DocsStreaming.dedupDocsStream(s,
      Replay.readChunks(s, DocsStreaming.docSchema, chunks))
    Replay.runBounded(s, "q33", deduped.schema) { sink =>
      Replay.parquetSink(deduped, sink, "append", "append")
    }.select(col("doc_id"), md5(col("text")).as("text_md5"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private val q33Sql =
    """WITH injected AS (
      | SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 7 = 0
      | UNION ALL
      | SELECT doc_id + 20000000, text FROM documents WHERE doc_id % 14 = 0)
      |SELECT doc_id, md5(text) AS text_md5,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |FROM (
      | SELECT doc_id, text,
      |   row_number() OVER (
      |     PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |     ORDER BY doc_id) AS rn
      | FROM injected)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  def specs: Seq[QuerySpec] = Seq(
    QuerySpec("q16_events_hourly", q16, Some(q16Sql)),
    QuerySpec("q17_json_props", q17, Some(q17Sql)),
    QuerySpec("q20_asof_prior_error", q20, Some(q20Sql)),
    QuerySpec("q29_events_stream_sink", q29, Some(q16Sql)),
    QuerySpec("q30_sessionization", q30, Some(q30Sql)),
    QuerySpec("q31_sessions_stream_sink", q31, Some(q31Sql)),
    QuerySpec("q32_salted_join", q32, Some(q32Sql)),
    QuerySpec("q33_stream_dedup", q33, Some(q33Sql)))
}
