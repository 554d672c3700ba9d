package graft.queries

import graft.{Canon, QueryDef, Tables}
import graft.Canon._
import graft.SessionConf.withConf
import graft.io.LocalDirs.pidScopedScratch
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch-equivalent forms of the streaming operators (SURVEY.md §2.11,
  * Q29–Q33). The Structured Streaming implementations in
  * graft.streaming.EventStreams run the same logic over a replayed stream
  * and must converge to these results (asserted in StreamingSpec).
  */
object EventQueries {

  /** The stream-stream join gates' replay (q159, q161, q163): the
    * user-quarter events (`user_id % 4 = 0`) in two TIME-ORDERED chunks
    * ([[StreamGate.timeSlices]]), `ts` riding the JSON hop as exact unix
    * micros (the default JSON timestamp format truncates to millis), the
    * join under 4 stream-scoped shuffle partitions (StreamGate's
    * commit-cost note), each micro-batch's `cols` to its own batch dir. With
    * `sentinel`, two far-future rows of user -1 (hi + 40/41 min, event
    * ids -1/-2) follow as a last chunk to advance the watermark past
    * every real row's eviction point (q161). Returns every batch's rows.
    */
  private def replayJoin(
      spark: SparkSession, dir: String, scratch: String, cols: String, sentinel: Boolean)(
      join: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val run = s"${pidScopedScratch(scratch, dir)}/run"
    val (ev, hi) = StreamGate.timeSlices(Tables(spark, dir).events
      .filter($"user_id" % 4 === 0)
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"), $"event_type"), 2)
    val last = Option.when(sentinel)(Seq(
        (-1L, -1L, hi + 40L * 60000000L, "sentinel"),
        (-2L, -1L, hi + 41L * 60000000L, "sentinel"))
      .toDF("event_id", "user_id", "ts_us", "event_type"))
    val out = StreamGate.BatchDirs(s"$run/out", cols)
    withConf(spark, "spark.sql.shuffle.partitions" -> "4") {
      StreamGate.replay(run, ev, 2, "event_id LONG, user_id LONG, ts_us LONG, event_type STRING",
          last) { stream =>
        join(stream.select($"event_id", $"user_id", timestamp_micros($"ts_us").as("ts"),
            $"event_type"))
          .writeStream
          .option("checkpointLocation", s"$run/ckpt")
          .foreachBatch(out.write _)
          .start()
      }
    }
    out.read(spark)
  }

  val all: Seq[QueryDef] = Seq(
    // ---- Q29: tumbling 1h window (T2 batch-equivalent) --------------------
    QueryDef(
      "q29_tumbling_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .select(tsStr($"window.start").as("w_start"), $"event_type", $"n", $"sum_value")
        .orderBy($"w_start", $"event_type")
    },

    // ---- Q30: sliding 1h/15m window (T3 batch-equivalent) -----------------
    // Each event belongs to exactly 4 epoch-aligned 15-min-slide windows:
    // starts trunc15(ts) - k*15min, k = 0..3.
    QueryDef(
      "q30_sliding_window",
      """WITH expanded AS (
        |  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000 - k.k * 900000000::BIGINT) AS w_start,
        |         event_type
        |  FROM events, (VALUES (0), (1), (2), (3)) k(k)
        |)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
        |       count(*)::BIGINT AS n
        |FROM expanded GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(tsStr($"window.start").as("w_start"), $"event_type", $"n")
        .orderBy($"w_start", $"event_type")
    },

    // ---- Q31: sessionization, 30-min gap (T4 batch-equivalent) ------------
    QueryDef(
      "q31_sessionization",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |), per_session AS (
        |  SELECT user_id, sid, count(*) AS n FROM sessions GROUP BY user_id, sid
        |)
        |SELECT user_id, count(*)::BIGINT AS n_sessions,
        |       CAST(CAST(round(CAST(avg(n) AS DECIMAL(18,6)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS avg_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(spark, dir).events
        .withColumn("new_session",
          when(lag($"ts", 1).over(w).isNull ||
            unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum($"new_session").over(run))
        .groupBy($"user_id", $"sid")
        .agg(count(lit(1)).as("n"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"), avg2($"n").as("avg_events"))
        .orderBy($"user_id")
    },

    // ---- Q32: dedup on event_id (T5 batch-equivalent) ----------------------
    QueryDef(
      "q32_dedup_events",
      """SELECT count(*)::BIGINT AS n_events,
        |       count(DISTINCT event_id)::BIGINT AS n_distinct
        |FROM events""",
    ) { (spark, dir) =>
      import spark.implicits._
      Tables(spark, dir).events
        .agg(count(lit(1)).as("n_events"), countDistinct($"event_id").as("n_distinct"))
    },

    // ---- Q33: stream-static join (T7 batch-equivalent) ---------------------
    QueryDef(
      "q33_stream_static_join",
      """SELECT c_mktsegment, count(*)::BIGINT AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      val t = Tables(spark, dir)
      t.events.join(broadcast(t.customer), $"user_id" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sumMoney($"value").as("sum_value"))
        .orderBy($"c_mktsegment")
    },

    // ---- q109: ordered funnel (sequence analytics) — per user the
    // view -> click -> purchase progression with STRICT timestamp order
    // (each stage's earliest occurrence must postdate the previous
    // stage's). Three key-partitioned min-aggregates + two equi-joins;
    // stage populations shrink monotonically, so each successive join's
    // build side is smaller — at scale the later stages broadcast. ------
    QueryDef(
      "q109_funnel",
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
        |), p AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
        |)
        |SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
        |       (SELECT count(*) FROM c)::BIGINT AS n_click_after_view,
        |       (SELECT count(*) FROM p)::BIGINT AS n_purchase_after_click,
        |       (SELECT CAST(coalesce(sum(user_id), 0) AS BIGINT) FROM p) AS converted_checksum""",
    ) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
      // v and c are each read twice (the eager stage counts below + the
      // next stage's build side / final plan): cache them so the view and
      // click stages run once, not up to three times inside the timed
      // body. Release follows the session clearCache contract
      // (Dedup.jaccardPairs) — unpersisting here would force the lazy
      // final plan to recompute both stages.
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"ts").as("t1")).cache()
      val c = ev.filter($"event_type" === "click")
        .join(v, Seq("user_id")).filter($"ts" > $"t1")
        .groupBy($"user_id").agg(min($"ts").as("t2")).cache()
      val p = ev.filter($"event_type" === "purchase")
        .join(c, Seq("user_id")).filter($"ts" > $"t2")
        .groupBy($"user_id").agg(min($"ts").as("t3"))
      val (vc, cc) = (v.count(), c.count())
      p.agg(count(lit(1)).as("np"),
          coalesce(sum($"user_id"), lit(0L)).cast("long").as("converted_checksum"))
        .select(lit(vc).as("n_view"), lit(cc).as("n_click_after_view"),
          $"np".as("n_purchase_after_click"), $"converted_checksum")
    },

    // ---- q110: cohort retention — users grouped by first-activity week,
    // activity tracked per week offset: the standard retention triangle.
    // One min-aggregate for cohorts, one distinct (user, week) frame, a
    // key-partitioned join, integer week arithmetic. ---------------------
    QueryDef(
      "q110_retention",
      """WITH first_seen AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort FROM events GROUP BY 1
        |), activity AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
        |)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
        |       CAST(date_diff('day', f.cohort, a.w) // 7 AS BIGINT) AS week_offset,
        |       count(*)::BIGINT AS n_active
        |FROM activity a JOIN first_seen f ON a.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables(spark, dir).events
      val firstSeen = ev.groupBy($"user_id")
        .agg(date_trunc("week", min($"ts")).as("cohort"))
      val activity = ev
        .select($"user_id", date_trunc("week", $"ts").as("w")).distinct()
      activity.join(firstSeen, Seq("user_id"))
        .groupBy(
          date_format($"cohort", "yyyy-MM-dd").as("cohort_week"),
          (datediff($"w", $"cohort") / 7).cast("long").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy($"cohort_week", $"week_offset")
    },

    // ---- q157: STREAMING sessionization on transformWithState (T4×T6,
    // EventStreams.sessionSummaryTws scaladoc) gated against the q31
    // batch derivation — the one streaming surface row that previously
    // had only a spec, now a driver-visible hash gate. The events table
    // replays as a REAL file-source stream in four ROUND-ROBIN chunks
    // (event_id % 4), so every micro-batch spans the full time range
    // and sessions merge across triggers — out-of-order arrival is the
    // point, and batching-invariance (sessions = connected components
    // of the event-time SET) is what makes the final state equal the
    // batch answer. Integer outputs only (n_sessions, n_events), no
    // float session-average to round. ts rides the JSON hop as exact
    // unix MICROS (the default JSON timestamp format truncates to
    // millis, which would move session boundaries). ------------------
    QueryDef(
      "q157_stream_sessionization",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |), per_session AS (
        |  SELECT user_id, sid, count(*) AS n FROM sessions GROUP BY user_id, sid
        |)
        |SELECT user_id, count(*)::BIGINT AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val run = s"${pidScopedScratch("graft_stream_sess", dir)}/run"
      val ev = Tables(spark, dir).events
        .select($"user_id", unix_micros($"ts").as("ts_us"),
          pmod($"event_id", lit(4)).cast("int").as("chunk"))
      // the RocksDB state store (StreamGate.TwsStateStore); 4
      // stream-scoped shuffle partitions (StreamGate's commit-cost note
      // — the default 32 paid 32 RocksDB commits x 4 triggers for
      // batch-scale data)
      withConf(spark, StreamGate.TwsStateStore :+ ("spark.sql.shuffle.partitions" -> "4"): _*) {
        StreamGate.replay(run, ev, 4, "user_id LONG, ts_us LONG") { stream =>
          graft.streaming.EventStreams
            .sessionSummaryTws(spark, stream.select($"user_id", timestamp_micros($"ts_us").as("ts")))
            .writeStream
            .outputMode("update")
            .option("checkpointLocation", s"$run/ckpt")
            .foreachBatch { (b: Dataset[Row], id: Long) =>
              b.withColumn("batch", lit(id))
                .write.mode("append").parquet(s"$run/out")
              ()
            }
            .start()
        }
      }
      // final per-user state: the row from the LAST batch that emitted
      // the user (n_events is strictly monotone per emission, so max
      // batch = max n_events — both orderings pick the same row)
      val w = Window.partitionBy($"user_id")
        .orderBy($"batch".desc, $"n_events".desc)
      spark.read.parquet(s"$run/out")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"n_sessions", $"n_events")
        .orderBy($"user_id")
    },

    // ---- q158: time-series gap-fill — hourly resample + forward fill.
    // The standard sensor/metric regularization operator: per user, an
    // hourly grid spans [first observed hour, last observed hour]; hours
    // with no event take the most recent observed hourly value
    // (last-observation-carried-forward). Observed hourly value = max
    // within the hour (order-free, so both engines agree without a
    // tie-break protocol). The grid is a generator (explode over
    // sequence — narrow, no shuffle); the fill is one window pass
    // partitioned by user_id: at 100 TB the only shuffle is the hourly
    // pre-aggregation + the per-user window, both on the same key, and
    // grid size is bounded by users x span-hours regardless of event
    // count. Output aggregates per user so the gate stays small. --------
    QueryDef(
      "q158_gap_fill",
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, max(value) AS v
        |  FROM events GROUP BY 1, 2
        |), bounds AS (
        |  SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1
        |), grid AS (
        |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds
        |), filled AS (
        |  SELECT g.user_id, g.h, hv.v,
        |         last_value(hv.v IGNORE NULLS) OVER (
        |           PARTITION BY g.user_id ORDER BY g.h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv
        |  FROM grid g LEFT JOIN hourly hv ON hv.user_id = g.user_id AND hv.h = g.h
        |)
        |SELECT user_id, count(*)::BIGINT AS n_hours, count(v)::BIGINT AS n_observed,
        |       (count(*) - count(v))::BIGINT AS n_filled,
        |       CAST(sum(CAST(fv AS DECIMAL(18,2))) AS DOUBLE) AS filled_sum
        |FROM filled GROUP BY user_id ORDER BY user_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val hourly = Tables(spark, dir).events
        .groupBy($"user_id", date_trunc("hour", $"ts").as("h"))
        .agg(max($"value").as("v"))
      val grid = hourly.groupBy($"user_id")
        .agg(min($"h").as("h0"), max($"h").as("h1"))
        .select($"user_id",
          explode(sequence($"h0", $"h1", expr("INTERVAL 1 HOUR"))).as("h"))
      val w = Window.partitionBy($"user_id").orderBy($"h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("fv", last($"v", ignoreNulls = true).over(w))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_hours"), count($"v").as("n_observed"),
          (count(lit(1)) - count($"v")).as("n_filled"),
          sumMoney($"fv").as("filled_sum"))
        .orderBy($"user_id")
    },

    // ---- q159: STREAMING stream-stream interval self-join (T8,
    // EventStreams.selfJoinWithin10Min) gated against the q14 batch
    // semantics — T8's first driver-visible gate (previously spec-only).
    // The events table replays as a real file-source stream in two
    // TIME-ORDERED chunks (equal ts slices, order-preserving and
    // distributed to compute — no global window; r12 trimmed 4 -> 2:
    // cross-trigger state handoff still happens at the boundary and
    // per-trigger commit machinery halves). Time order is what
    // makes the gate exact: chunk k+1's earliest event is >= chunk k's
    // latest, so (a) no input ever arrives below the 20-min watermark
    // (never dropped), and (b) a row is evicted from join state only
    // when watermark > its ts + 10 min, at which point every future
    // partner is provably out of the band — inner-join emission is
    // therefore complete AND state stays bounded by the watermark
    // horizon, the property that holds at 100 TB stream volumes.
    // ts rides the JSON hop as exact unix MICROS (q157's lesson). -----
    QueryDef(
      "q159_stream_stream_join",
      """SELECT a.event_type AS a_type, count(*)::BIGINT AS n_pairs,
        |       sum(b.event_id)::BIGINT AS pair_checksum
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
        |WHERE a.user_id % 4 = 0
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      // deterministic user-quarter replay: the gate proves STREAMING ≡
      // batch (q14 already gates the full-data batch semantics); the
      // equi-join key makes the one-sided oracle filter equivalent to
      // filtering the whole stream. Keeps the per-round stateful-join
      // cost batch-scale instead of 4x corpus-scale.
      replayJoin(spark, dir, "graft_stream_ssj", "a_type STRING, b_id LONG", sentinel = false)(
        graft.streaming.EventStreams.selfJoinWithin10Min)
        .groupBy($"a_type")
        .agg(count(lit(1)).as("n_pairs"), sum($"b_id").as("pair_checksum"))
        .orderBy($"a_type")
    },

    // ---- q160: SCD Type-2 history build — collapse a per-key changelog
    // into validity intervals (the islands half of gaps-and-islands; the
    // standard slowly-changing-dimension construction). Tracked attribute
    // = event_type per user; consecutive runs of the same type become one
    // interval [valid_from, valid_to), valid_to NULL on the current row.
    // Two user-partitioned window passes (change flag via lag, interval id
    // via running sum) + one groupBy + one lead — all shuffles on the same
    // key, so at 100 TB this is a single exchange reused across stages.
    // Output is sliced to user_id % 8 = 0 (deterministic, applied on BOTH
    // engines) purely to bound the dumped gate; interval_seq makes the
    // ORDER BY total. -------------------------------------------------
    QueryDef(
      "q160_scd2_history",
      """WITH src AS (
        |  SELECT user_id, ts, event_id, event_type FROM events WHERE user_id % 8 = 0
        |), flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(event_type) OVER w IS NULL
        |                OR event_type <> lag(event_type) OVER w
        |              THEN 1 ELSE 0 END AS chg
        |  FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, event_type,
        |         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |), intervals AS (
        |  SELECT user_id, sid, any_value(event_type) AS state,
        |         min(ts) AS vf, count(*) AS n_events
        |  FROM numbered GROUP BY user_id, sid
        |)
        |SELECT user_id, CAST(sid AS BIGINT) AS interval_seq, state,
        |       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |       strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY sid),
        |                '%Y-%m-%d %H:%M:%S') AS valid_to,
        |       CAST(n_events AS BIGINT) AS n_events,
        |       CAST(lead(vf) OVER (PARTITION BY user_id ORDER BY sid) IS NULL
        |            AS BIGINT) AS is_current
        |FROM intervals ORDER BY user_id, interval_seq""",
    ) { (spark, dir) =>
      import spark.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wLead = Window.partitionBy($"user_id").orderBy($"sid")
      Tables(spark, dir).events
        .filter($"user_id" % 8 === 0)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("chg",
          when(lag($"event_type", 1).over(w).isNull ||
            $"event_type" =!= lag($"event_type", 1).over(w), 1).otherwise(0))
        .withColumn("sid", sum($"chg").over(run))
        .groupBy($"user_id", $"sid")
        .agg(first($"event_type").as("state"), min($"ts").as("vf"),
          count(lit(1)).as("n_events"))
        .select($"user_id", $"sid".cast("long").as("interval_seq"), $"state",
          tsStr($"vf").as("valid_from"),
          tsStr(lead($"vf", 1).over(wLead)).as("valid_to"),
          $"n_events",
          lead($"vf", 1).over(wLead).isNull.cast("long").as("is_current"))
        .orderBy($"user_id", $"interval_seq")
    },

    // ---- q161: STREAMING stream-stream LEFT-OUTER interval join (T8
    // outer, EventStreams.leftOuterSelfJoinWithin10Min) gated against
    // the batch LEFT JOIN — the semantics real event pipelines hit:
    // unmatched events must still appear, as null-side rows emitted
    // only once the watermark proves no partner can arrive (r10
    // verdict item 7; the early-emission failure mode would show up
    // here as n_unmatched drift or duplicate a-rows, both hash-fatal).
    // Same time-ordered 2-chunk replay as q159, PLUS a SENTINEL
    // chunk 40 min past the real timeline: null emission is state
    // EVICTION, which only happens when the watermark passes a_ts +
    // 10 min — without the sentinel, every unmatched row within the
    // last watermark-delay + band of the timeline would sit in state
    // forever and the batch comparison would be incomplete. Sentinel
    // rows carry user_id = -1: they advance the watermark, cannot pair
    // with any real row (equi-key + future ts), and are excluded from
    // the output by the a_user >= 0 filter — which is a no-op in the
    // batch oracle (no negative user exists in events), so both
    // engines aggregate the identical row set. ----------------------
    QueryDef(
      "q161_stream_stream_outer",
      """SELECT a.event_type AS a_type, count(*)::BIGINT AS n_rows,
        |       count(b.event_id)::BIGINT AS n_pairs,
        |       (count(*) - count(b.event_id))::BIGINT AS n_unmatched,
        |       coalesce(sum(b.event_id), 0)::BIGINT AS pair_checksum
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
        |WHERE a.user_id % 4 = 0
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      // user-quarter replay, time-ordered chunks: q159's construction
      replayJoin(spark, dir, "graft_stream_ssjo", "a_user LONG, a_type STRING, b_id LONG",
        sentinel = true)(graft.streaming.EventStreams.leftOuterSelfJoinWithin10Min)
        .filter($"a_user" >= 0) // drop the sentinel's own (live) rows
        .groupBy($"a_type")
        .agg(count(lit(1)).as("n_rows"),
          count($"b_id").as("n_pairs"),
          (count(lit(1)) - count($"b_id")).as("n_unmatched"),
          coalesce(sum($"b_id"), lit(0L)).cast("long").as("pair_checksum"))
        .orderBy($"a_type")
    },

    // ---- q162: STREAMING watermark-bounded sessionization (T4×T6
    // production mode, EventStreams.closedSessionsTws) — the driver
    // gate for the variant q157 deliberately does NOT run: state per
    // user bounded by the live horizon (watermark delay + gap), closed
    // sessions emitted exactly once in Append mode via event-time
    // TIMERS, never retracted. Replay keeps the FULL time-ordered
    // 4-chunk construction (unlike the trimmed stream-stream gates —
    // mid-stream closure across several watermark steps is this gate's
    // point; within-chunk arrival is still arbitrary — that is
    // the out-of-order surface a bounded-state operator must absorb;
    // chunk contiguity keeps every row above the 10-min watermark so
    // the comparison is exact). A far-future SENTINEL chunk (user -1,
    // hi + 41/42 min) pushes the final watermark past hi + 31 min >
    // every session end + the 30-min gap, so ALL real sessions close
    // and emit before shutdown — which makes this gate double as the
    // boundedness proof: if any live state were pinned (a leaked
    // session, a dropped timer), its user's n_sessions would come up
    // short and the hash would fail. total_dur_us pins the interval
    // BOUNDARIES, not just counts — a session split or merge error
    // that preserved row counts would still shift sum(end - start). --
    QueryDef(
      "q162_bounded_sessions",
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged
        |), per_session AS (
        |  SELECT user_id, sid, count(*) AS n,
        |         min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
        |  FROM sessions GROUP BY user_id, sid
        |)
        |SELECT user_id, count(*)::BIGINT AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       CAST(sum(e_us - s_us) AS BIGINT) AS total_dur_us
        |FROM per_session GROUP BY user_id ORDER BY user_id""",
    ) { (spark, dir) =>
      import spark.implicits._
      val run = s"${pidScopedScratch("graft_stream_bsess", dir)}/run"
      val (ev, hi) = StreamGate.timeSlices(
        Tables(spark, dir).events.select($"user_id", unix_micros($"ts").as("ts_us")), 4)
      val sentinel = Seq((-1L, hi + 41L * 60000000L), (-1L, hi + 42L * 60000000L))
        .toDF("user_id", "ts_us")
      val out = StreamGate.BatchDirs(s"$run/out",
        "user_id LONG, s_start_us LONG, s_end_us LONG, n_events LONG")
      // the RocksDB state store (StreamGate.TwsStateStore); 4
      // stream-scoped shuffle partitions: StreamGate's commit-cost note
      withConf(spark, StreamGate.TwsStateStore :+ ("spark.sql.shuffle.partitions" -> "4"): _*) {
        StreamGate.replay(run, ev, 4, "user_id LONG, ts_us LONG", Some(sentinel)) { stream =>
          graft.streaming.EventStreams
            .closedSessionsTws(spark, stream.select($"user_id", timestamp_micros($"ts_us").as("ts")))
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$run/ckpt")
            .foreachBatch(out.write _)
            .start()
        }
      }
      // closed rows only: the sentinel proved everything real closed
      out.read(spark)
        .filter($"user_id" >= 0) // the sentinel's own session stays live
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum($"n_events").cast("long").as("n_events"),
          sum($"s_end_us" - $"s_start_us").cast("long").as("total_dur_us"))
        .orderBy($"user_id")
    },

    // ---- q163: STREAMING stream-stream FULL-OUTER interval join (T8's
    // last mode, EventStreams.fullOuterSelfJoinWithin10Min) gated
    // against the batch FULL JOIN. q161's construction generalizes:
    // null emission on EITHER side is that side's watermark-driven
    // state eviction — an a-row with no successor within 10 min emits
    // null-b when the watermark passes a_ts + band; a b-row with no
    // predecessor emits null-a when it passes b_ts. The same sentinel
    // chunk drains both sides' timeline tails (final watermark hi+21m
    // clears a-eviction at hi+10m and b-eviction at hi). The sentinel
    // pair matches itself and emits one (a_user=-1, b_id=-2) row —
    // dropped by the a_user filter; its unmatched spellings sit above
    // the final watermark and never emit. The b_id >= 0 guard is
    // belt-and-braces against either surfacing as a b-side null row.
    // Grouping key coalesces a_type with a '(b-unmatched)' bucket so
    // both null sides are pinned: a-side nulls inflate n_unmatched_a
    // within their type; b-side nulls land in their own group with an
    // id checksum. The batch oracle has no negative users/ids, so its
    // filter is a no-op and both engines aggregate the same row set. --
    QueryDef(
      "q163_stream_stream_full",
      """WITH q AS (SELECT * FROM events WHERE user_id % 4 = 0)
        |SELECT coalesce(a.event_type, '(b-unmatched)') AS grp,
        |       count(*)::BIGINT AS n_rows,
        |       count(a.user_id)::BIGINT AS n_a,
        |       count(b.event_id)::BIGINT AS n_b,
        |       (count(*) - count(b.event_id))::BIGINT AS n_unmatched_a,
        |       coalesce(sum(b.event_id), 0)::BIGINT AS b_checksum
        |FROM q a FULL JOIN q b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
        |GROUP BY 1 ORDER BY 1""",
    ) { (spark, dir) =>
      import spark.implicits._
      replayJoin(spark, dir, "graft_stream_ssfo", "a_user LONG, a_type STRING, b_id LONG",
        sentinel = true)(graft.streaming.EventStreams.fullOuterSelfJoinWithin10Min)
        // drop sentinel rows on whichever side they surfaced
        .filter(($"a_user".isNull || $"a_user" >= 0) &&
          ($"b_id".isNull || $"b_id" >= 0))
        .groupBy(coalesce($"a_type", lit("(b-unmatched)")).as("grp"))
        .agg(count(lit(1)).as("n_rows"),
          count($"a_user").as("n_a"),
          count($"b_id").as("n_b"),
          (count(lit(1)) - count($"b_id")).as("n_unmatched_a"),
          coalesce(sum($"b_id"), lit(0L)).cast("long").as("b_checksum"))
        .orderBy($"grp")
    },
  )
}
