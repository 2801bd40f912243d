package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface.
  *
  * The reference's unbounded execution is an append-only file tail with no
  * event-time semantics (SURVEY §2.9: `StreamingTableExec` /
  * `FileStreamProvider`, reference
  * `datafusion/core/src/datasource/stream.rs:112,137`). Spark's file
  * source IS that operator, so [[eventStream]] is capability parity; the
  * watermarked window aggregation and keyed custom state go beyond the
  * reference (Spark-native strengths) and are what a 100 TB ingest
  * pipeline actually runs — they're exercised by `StreamingSpec` with an
  * AvailableNow trigger against the same batch computation.
  *
  * Scale notes: the file source lists + rate-limits via
  * `maxFilesPerTrigger`; windowed aggregation state is partitioned by
  * (window, key) across executors and bounded by the watermark; the
  * flatMapGroupsWithState state store is per-user_id, hash-partitioned —
  * all standard Structured Streaming state-scale machinery.
  */
object Streaming {

  /** Raw (un-normalized) schema of an events parquet file/dir, probed from
    * the parquet footers via a batch read. Streaming reads need an explicit
    * schema; a hard-coded one is the anti-pattern that silently corrupted
    * data when the testdata layout changed (nanos-as-long ÷1000 applied to
    * µs values → 1970 windows) — the file's own schema is the only safe
    * source. `nanosAsLong` is set so legacy TIMESTAMP(NANOS) files probe as
    * long instead of erroring; the probe shares [[Queries.parquetSchema]]'s
    * per-session memo with the batch reads. */
  def probeRawSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Queries.parquetSchema(spark, path)
  }

  /** Unbounded file tail over the events table (≙ reference
    * FileStreamProvider): new parquet files appearing under `dir` flow
    * into the stream; `pathGlobFilter` isolates the events table. The
    * schema-conditional `ts` normalization (Engine.normalizeTs) restores
    * TimestampType, which watermarks / session_window / unix_micros need
    * (TIMESTAMP_NTZ is rejected by EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.readStream
      .schema(probeRawSchema(spark, s"$dir/events.parquet"))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    Engine.normalizeTs(raw)
  }

  /** Tumbling-window aggregation with a watermark: the canonical
    * streaming group-by. 5-minute windows, 10-minute lateness bound. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DecimalType(38, 2)).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Session-window aggregation: gap-based sessions (30-minute timeout)
    * assigned natively by the streaming engine — the streaming counterpart
    * of the batch `q65_sessionize` operator. State per (user, session) is
    * merged as events arrive and finalized when the watermark passes the
    * gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n_events"))

  /** Streaming exact deduplication with bounded state — the streaming
    * counterpart of the batch `q43_dedup_exact` operator and the shape an
    * always-on ingest pipeline dedups with at 100 TB/day: duplicates are
    * dropped on a content key while the watermark bounds how long each
    * key's state is retained (without the watermark, state grows without
    * bound). Emits each distinct (event_type, value-cent) content key's
    * first arrival. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withColumn("content_key",
        concat_ws("|", col("event_type"), (col("value") * 100).cast(LongType)))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_key")
      .select(col("content_key"), col("event_id"), col("ts"))

  /** Stream-stream inner join ≙ the reference's pipelined
    * `SymmetricHashJoinExec` (SURVEY §2.4, reference
    * `datafusion/physical-plan/src/joins/symmetric_hash_join.rs:168`):
    * both sides are unbounded, state is kept per key, and the event-time
    * range condition lets the watermark evict state — the same
    * range-pruning idea the reference's filter-based state cleanup uses.
    * Here: purchases within 10 minutes after a click by the same user. */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "30 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "30 minutes")
    clicks.join(purchases,
      expr("""user_id = p_user AND
             |purchase_ts >= click_ts AND
             |purchase_ts <= click_ts + INTERVAL 10 MINUTES""".stripMargin))
  }

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserMax(user_id: Long, n_events: Long, max_value: Double)

  /** Keyed custom state (≙ SURVEY §2.8 extension surface;
    * `flatMapGroupsWithState` is Spark's stateful-operator API): per-user
    * running event count + max value, emitted on every update. */
  def perUserRunningMax(events: DataFrame): Dataset[UserMax] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserMax]) =>
          val prev = state.getOption.getOrElse(UserMax(uid, 0L, Double.MinValue))
          val next = it.foldLeft(prev)((acc, ev) =>
            UserMax(uid, acc.n_events + 1, math.max(acc.max_value, ev.value)))
          state.update(next)
          Iterator.single(next)
      }
  }
}
