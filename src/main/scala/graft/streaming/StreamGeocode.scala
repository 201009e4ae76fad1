package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.engine.{Forward, Reverse, Tiler}
import graft.etl.{DictScanner, Extract}
import graft.functions.GeoFunctions
import graft.model.ForwardParams

/** Open-session state for the stateful streaming sessionizer. */
case class SessionState(nEvents: Long, startUs: Long, endUs: Long)

/** A closed session emitted by sessionizeStream. */
case class SessionOut(user_id: Long, n_events: Long,
                      sess_start: java.sql.Timestamp, sess_end: java.sql.Timestamp)

/**
 * Structured-Streaming surface for the engine.
 *
 * The reference is strictly synchronous request/response — no streaming
 * semantics exist to replicate (SURVEY.md §2.8) — but forward geocoding is a
 * stateless map + broadcast join, so the batch operators lift onto
 * `readStream` unchanged. This module proves that property: the same
 * Extract/Forward code paths run under micro-batches; the only
 * streaming-specific piece is the top-1 selection, which becomes a
 * watermark + event-time-window max_by (batch row_number windows are not
 * streamable), and the watermarked per-window tile rollup.
 */
object StreamGeocode {

  /** Exact microsecond -> Timestamp (preserves sub-ms precision). */
  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming pages -> per-(window, url, mention) best geocode candidate.
    * `pages` is a streaming DataFrame with the input_hint schema. Append-mode
    * safe: state is bounded by the 10-minute watermark on warc_ts. */
  def geocodeStream(spark: SparkSession, pages: DataFrame, nameIndex: DataFrame,
                    scanner: DictScanner,
                    params: ForwardParams = ForwardParams()): DataFrame = {
    val mentions = Extract.mentions(spark, pages, scanner)
      .filter(col("kind") === "name").drop("lon", "lat")
    val cand = Forward.candidates(mentions, nameIndex, params).drop("gaz_key")
    val best = cand
      .withWatermark("warc_ts", "10 minutes")
      .groupBy(window(col("warc_ts"), "5 minutes"), col("url"), col("surface"))
      .agg(max_by(
        struct(col("name"), col("place_id"), col("lon"), col("lat"),
          col("country_code"), col("text_sha256")),
        struct(col("weight"), col("importance"), -col("place_id"))).as("best"))
      .select(col("window"), col("url"), col("surface"),
        col("best.name").as("name"), col("best.place_id").as("place_id"),
        col("best.lon").as("lon"), col("best.lat").as("lat"),
        col("best.country_code").as("country_code"),
        col("best.text_sha256").as("text_sha256"))
    best.withColumn("tile_z", lit(12))
      .withColumn("tile_x", GeoFunctions.tileX(col("lon"), lit(12)))
      .withColumn("tile_y", GeoFunctions.tileY(col("lat"), lit(12)))
  }

  /** Streaming REVERSE geocode: coordinate-literal mentions from a pages
    * stream resolved against the broadcast packed cell index. Fully
    * STATELESS — cell encode, broadcast hash join, ray-cast and best-pick
    * are all map-side expressions, so the batch operators run under
    * micro-batches unchanged, in append mode, with no watermark or state
    * store at all. This is the property that makes reverse geocoding a
    * continuous-ingest operator at crawl scale. */
  def reverseStream(spark: SparkSession, pages: DataFrame,
                    polygons: DataFrame, polyCells: DataFrame,
                    scanner: DictScanner): DataFrame = {
    val coords = Extract.mentions(spark, pages, scanner)
      .filter(col("kind") === "coord")
      .withColumn("cell", GeoFunctions.cellId(col("lon"), col("lat"),
        lit(graft.geo.CellIndex.FineLevel)))
    val packed = Reverse.packedCellIndex(polygons, polyCells)
    def best(f: String) = col(Reverse.Best).getField(f).as(f)
    Reverse.probe(coords.join(broadcast(packed), Seq("cell"), "left"))
      .select(col("url"), col("warc_ts"), col("surface"), col("lon"), col("lat"),
        best("polygon_id"), best("name"), best("admin_level"))
      .withColumn("geocode_status",
        when(col("polygon_id").isNotNull, "ok").otherwise("no_result"))
  }

  /** Stateful streaming sessionization (the streaming twin of the batch
    * q11_sessionize rollup): per-user sessions close after `gapMinutes` of
    * event-time silence, via flatMapGroupsWithState with an event-time
    * timeout bounded by the watermark — the custom-state shape
    * (KeyValueGroupedDataset) the built-in windowed aggregations can't
    * express, since session length is data-dependent, not fixed. */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
                       gapMinutes: Int = 30,
                       watermark: String = "1 hour"): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val typed = events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1).flatMapGroupsWithState[SessionState, SessionOut](
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      case (uid, rows, state: GroupState[SessionState]) =>
        if (state.hasTimedOut) {
          // watermark passed the open session's gap deadline: close it
          val s = state.get
          state.remove()
          Iterator.single(SessionOut(uid, s.nEvents, usToTs(s.startUs), usToTs(s.endUs)))
        } else {
          // fold this micro-batch's events (sorted by event time) into the
          // open session, closing sessions at every > gap jump. Exact
          // microseconds (getTime truncates the sub-ms part that parquet
          // event times carry; getNanos holds the full fraction). A
          // cross-batch out-of-order event still within the watermark merges
          // into the open session by EXTENDING its bounds (start = min,
          // end = max) — a documented approximation: the open session is not
          // re-split retroactively if the late event implies a gap before
          // the previously-seen start (batch q11_sessionize is exact).
          val ts = rows.map { r =>
            val t = r._2
            math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          }.toArray.sorted
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var cur = state.getOption.orNull
          ts.foreach { t =>
            cur match {
              case null => cur = SessionState(1L, t, t)
              case s if t - s.endUs > gapUs =>
                closed += SessionOut(uid, s.nEvents, usToTs(s.startUs), usToTs(s.endUs))
                cur = SessionState(1L, t, t)
              case s => cur = SessionState(s.nEvents + 1,
                math.min(s.startUs, t), math.max(s.endUs, t))
            }
          }
          if (cur != null) {
            state.update(cur)
            // close the session once event time passes its gap deadline
            state.setTimeoutTimestamp((cur.endUs + gapUs) / 1000L)
          }
          closed.iterator
        }
    }
  }

  /** Streaming exact dedup for a continuous-ingest document stream: first
    * occurrence of each content digest passes, replays are dropped. State is
    * the digest set, BOUNDED by the watermark via
    * `dropDuplicatesWithinWatermark` — the crawl-scale contract is
    * "exactly-once per content within the replay horizon", because an
    * unbounded digest set cannot fit any state store at 10^12 docs; the
    * batch `Dedup.exact` pass owns cross-horizon duplicates. The digest is
    * computed BEFORE the dedup so state stores 32-byte keys, never text. */
  def dedupStream(docs: DataFrame, tsCol: String = "warc_ts",
                  textCol: String = "text",
                  watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_sha", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_sha")

  /** STREAM-STREAM event-time interval join (the attribution shape): every
    * (view, click) pair of the same user with click_ts in
    * [view_ts, view_ts + horizon] — the join family the stateless
    * stream-static reverseStream cannot express, because BOTH sides arrive
    * continuously. Both sides carry watermarks and the join condition bounds
    * the event-time distance between them, so each side's state evicts as
    * the other side's watermark passes (view state once click-watermark >
    * view_ts + horizon; click state once view-watermark > click_ts) — the
    * canonical bounded-state stream-stream join, sized by watermark ×
    * arrival rate, never by stream length. Inner join: matches emit as soon
    * as both sides arrive, no finalization wait.
    *
    * @param views  streaming (user_id, event_id, ts) — the left/earlier side
    * @param clicks streaming (user_id, event_id, ts) — the right side
    * @param horizonMinutes max click delay after the view to attribute
    * @param watermark max out-of-orderness tolerated per side; state and
    *                  completeness trade off here (events later than this
    *                  may be dropped — a run needing EXACT batch parity over
    *                  a bounded replay can pass a watermark wider than the
    *                  data span, as the contract query does)
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
                      horizonMinutes: Int = 10,
                      watermark: String = "30 minutes"): DataFrame = {
    val v = views.select(col("user_id"), col("event_id").as("view_id"),
        col("ts").cast("timestamp").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks.select(col("user_id").as("__c_user"),
        col("event_id").as("click_id"),
        col("ts").cast("timestamp").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
        v("user_id") === c("__c_user") &&
          c("click_ts") >= v("view_ts") &&
          c("click_ts") <= v("view_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"),
        "inner")
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Watermarked sliding-window tile counts over a stream of raw hits
    * (lon/lat/warc_ts) — the streaming twin of Tiler.aggregate. */
  def tileCounts(hits: DataFrame): DataFrame =
    Tiler.assign(hits, z = 12)
      .withWatermark("warc_ts", "10 minutes")
      .groupBy(window(col("warc_ts"), "5 minutes"), col("tile_z"),
        col("tile_x"), col("tile_y"))
      .agg(count(lit(1)).as("n_hits"))
}
