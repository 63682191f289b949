package graft.queries

import graft.Tables
import graft.streaming.{StatefulSessions, StreamingLoads}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming operators with a driver-checkable correctness row.
  *
  * The batch SCD2 family (m3, pipe*) is oracle-checked; the streaming
  * twin ([[StreamingLoads.foreachBatchScd2]], SURVEY.md §2.9) was
  * previously spec-only. [[all]]'s `stream1_scd2_equiv` closes that gap:
  * the event log is replayed through a real Structured Streaming query
  * (MemoryStream source, one micro-batch per arrival window, each batch
  * running the SAME close-and-insert merge a batch load uses), and the
  * final dimension must hash-match a DuckDB oracle that derives the full
  * version history relationally. Stream-vs-batch equivalence IS the
  * assertion — same rows, same version intervals, same surrogate keys.
  */
object StreamingQueries {
  import Registry.epochS

  /** Run `body` with the session's shuffle-partition count scoped down:
    * state-store/reducer count is a PER-QUERY deployment knob for
    * streaming jobs, and a micro-batch replay over a fixture-sized state
    * pays pure task-launch overhead for every unused partition × every
    * micro-batch (measured ~2× wall on stream2: 6 batches × 32 state
    * partitions of a few KB each). At real volume the same queries size
    * this to cores × headroom — nothing in the query shape changes. */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** Arrival-window cutoffs over the events table (spans 2024-01); each
    * window is one micro-batch, and the batch's frozen run timestamp (P8)
    * is its cutoff — deterministic, so the oracle can reproduce every
    * valid_from/valid_to transition. */
  private val Cutoffs = Seq(
    "2024-01-07 00:00:00", "2024-01-13 00:00:00", "2024-01-19 00:00:00",
    "2024-01-25 00:00:00", "2024-02-01 00:00:00")

  /** b → that window's cutoff timestamp, generated from [[Cutoffs]] so the
    * oracle can never drift from the Spark replay when cutoffs change. */
  private val cutoffCase: String =
    "CASE b " + Cutoffs.init.zipWithIndex.map { case (c, i) =>
      s"WHEN ${i + 1} THEN TIMESTAMP '$c'"
    }.mkString(" ") + s" ELSE TIMESTAMP '${Cutoffs.last}' END"

  /** 0-based arrival-window index of an event's `ts` under [[Cutoffs]] —
    * the ONE definition of the window bucketing, shared by every replay
    * (stream1/stream5) so the batchId ↔ window mapping cannot diverge
    * between equivalence rows. */
  private def windowTag: Column = {
    var bcol: Column = lit(Cutoffs.size - 1)
    for (i <- Cutoffs.size - 2 to 0 by -1)
      bcol = when(col("ts") <= lit(Cutoffs(i)).cast("timestamp"), lit(i)).otherwise(bcol)
    bcol
  }

  /** (cutoffTs, rows) per NON-EMPTY arrival window, in window order — an
    * empty window runs no micro-batch, so batchId i maps to the i-th
    * non-empty window's cutoff. */
  private def arrivalWindows[T](tagged: Seq[(Int, T)]): Seq[(String, Seq[T])] =
    (0 until Cutoffs.size)
      .map(i => Cutoffs(i) -> tagged.filter(_._1 == i).map(_._2).toSeq)
      .filter(_._2.nonEmpty)

  def all: Seq[Q] = Seq(
    // Watermarked tumbling-window aggregation — the canonical Structured
    // Streaming shape — proven equivalent to the batch hourly rollup. The
    // event log replays IN EVENT-TIME ORDER through a MemoryStream in 3
    // arrival chunks (ordered replay ⇒ nothing ever falls behind the
    // watermark, so the stream must reproduce the batch answer exactly);
    // append mode only emits a window once the watermark passes its end,
    // so two far-future sentinel events flush the tail (the second
    // advances the watermark past the first; sentinels filter out of the
    // result). State stays O(windows in flight), never O(stream) — the
    // property that makes this the 100 TB/day shape.
    Q("stream2_windowed_equiv",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        val evs = Tables.events(s, d)
          .select(unix_timestamp(col("ts")).as("ts_s"), col("event_type"), col("value"))
          .orderBy(col("ts_s"), col("event_type"), col("value"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        val chunkLen = math.max(1, (evs.length + 2) / 3)
        val maxTs = evs.map(_._1).maxOption.getOrElse(0L) // empty log → sentinel-only replay → empty result

        val input = MemoryStream[(Long, String, Double)]
        val stream = input.toDF().toDF("ts_s", "event_type", "value")
          .select(col("ts_s").cast("timestamp").as("ts"), col("event_type"), col("value"))
        val sink = s"stream2_out_${System.identityHashCode(input)}"
        val q = StreamingLoads.windowedEventCounts(stream)
          .writeStream.outputMode("append").format("memory").queryName(sink)
          .trigger(Trigger.ProcessingTime(0)).start()
        try {
          evs.grouped(chunkLen).foreach { c =>
            input.addData(c.toSeq); q.processAllAvailable()
          }
          // sentinel 1 pushes the watermark past every real window;
          // sentinel 2 pushes it past sentinel 1's window so the flush of
          // the real tail actually emits
          for (k <- Seq(10L, 20L)) {
            input.addData(Seq((maxTs + k * 86400, "__sentinel__", 0.0)))
            q.processAllAvailable()
          }
        } finally q.stop()
        s.table(sink)
          .filter(col("event_type") =!= "__sentinel__")
          .select(epochS(col("window_start")).as("hour_epoch"),
            col("event_type"), col("n_events"), col("total_value"))
          .localCheckpoint()
      },
      Some(s"""SELECT ${Registry.epochSql("date_trunc('hour', ts)")} AS hour_epoch, event_type,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin),
      harness = true),

    // Custom-state sessionization (flatMapGroupsWithState) replayed over
    // the full event log in 4 event-time-ordered micro-batches, open
    // sessions flushed by per-user sentinels (whose own sessions never
    // emit). Must reproduce the batch gap-1800s sessionize (e1) exactly —
    // the stateful-processing twin of stream2's windowed aggregation.
    Q("stream3_stateful_sessions",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        val evs = Tables.events(s, d)
          .select(col("user_id"),
            unix_timestamp(col("ts").cast("timestamp")).as("es"), col("event_id"))
          .as[StatefulSessions.Event].collect().toSeq
        val users = evs.map(_.user_id).distinct
        val maxEs = evs.map(_.es).maxOption.getOrElse(0L)
        val input = MemoryStream[StatefulSessions.Event]
        val sink = s"stream3_out_${System.identityHashCode(input)}"
        val q = StatefulSessions.sessionize(input.toDS())
          .writeStream.outputMode("append").format("memory").queryName(sink)
          .trigger(Trigger.ProcessingTime(0)).start()
        try {
          val chunkLen = math.max(1, (evs.length + 3) / 4)
          evs.sortBy(e => (e.es, e.event_id)).grouped(chunkLen).foreach { c =>
            input.addData(c); q.processAllAvailable()
          }
          input.addData(StatefulSessions.flushEvents(users, maxEs))
          q.processAllAvailable()
        } finally q.stop()
        s.table(sink)
          .select(col("user_id"), col("session_id"), col("n_events"),
            col("session_start_epoch"))
          .localCheckpoint()
      },
      Some(Registry.SessionizeOracleSql),
      harness = true),

    // Stream-stream interval join: click ⋈ purchase per user within
    // [click_ts, click_ts + 1h], both sides watermarked (2h) so buffered
    // state ages out — the bounded-state join shape for event streams.
    // Inner joins emit eagerly as matches arrive, and the ordered replay
    // guarantees no row is evicted while a future match is still
    // possible, so the stream must produce the batch join EXACTLY. The
    // oracle compares at MICROsecond precision (epoch_ns // 1000 ≡ the
    // engine's ns-to-micros floor) — the fixture's timestamps carry
    // sub-second parts, so second-truncated comparison would be a
    // different (wrong) predicate.
    Q("stream4_interval_join",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        def collectSide(tpe: String) = Tables.events(s, d)
          .filter(col("event_type") === tpe)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
          .orderBy(col("us"), col("event_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val clicks = collectSide("click")
        val purchases = collectSide("purchase")

        def stream(input: MemoryStream[(Long, Long, Long)], nm: String) =
          input.toDF().toDF("user_id", s"${nm}_id", "us")
            .select(col("user_id"), col(s"${nm}_id"),
              timestamp_micros(col("us")).as(nm))
            .withWatermark(nm, "2 hours")
        val ci = MemoryStream[(Long, Long, Long)]
        val pi = MemoryStream[(Long, Long, Long)]
        val joined = stream(ci, "click_ts").as("c")
          .join(stream(pi, "p_ts").as("p"),
            col("c.user_id") === col("p.user_id") &&
              col("p_ts") >= col("click_ts") &&
              col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("c.user_id"), col("click_ts_id").as("click_id"),
            col("p_ts_id").as("purchase_id"))
        val sink = s"stream4_out_${System.identityHashCode(ci)}"
        val q = joined.writeStream.outputMode("append").format("memory")
          .queryName(sink).trigger(Trigger.ProcessingTime(0)).start()
        try {
          // interleave both sides in 2 event-time-ordered chunks each
          def chunks(a: Array[(Long, Long, Long)]): Seq[Seq[(Long, Long, Long)]] =
            a.grouped(math.max(1, (a.length + 1) / 2)).map(_.toSeq).toSeq
              .padTo(2, Seq.empty[(Long, Long, Long)])
          chunks(clicks).zip(chunks(purchases)).foreach { case (c, p) =>
            ci.addData(c); pi.addData(p); q.processAllAvailable()
          }
        } finally q.stop()
        s.table(sink).localCheckpoint()
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |            epoch_ns(ts) // 1000 AS us FROM events)
             |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
             |FROM e c JOIN e p ON c.user_id = p.user_id
             |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
             |  AND p.us >= c.us AND p.us <= c.us + 3600000000""".stripMargin),
      harness = true),

    Q("stream1_scd2_equiv",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext

        // the event log, tagged with its arrival window. ALL time
        // handling is in microseconds (the engine's native timestamp
        // precision): second-truncated ordering would let two
        // same-second events of one user resolve latest-by-key
        // differently than the oracle's full-precision ordering, and
        // sub-second events just past a cutoff would land in different
        // windows per engine (the oracle buckets/orders on
        // epoch_ns // 1000 to match).
        val windows = arrivalWindows(Tables.events(s, d)
          .select(windowTag.as("b"), col("user_id"), col("event_type"), col("props"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .collect()
          .map(r => (r.getInt(0), (r.getLong(1), r.getString(2), r.getString(3),
            r.getLong(4), r.getLong(5)))).toSeq)
        val batchTs = windows.map(_._1)

        val dimDir = java.nio.file.Files.createTempDirectory("stream1_scd2")
        val dim = new StreamingLoads.Scd2Table(
          s, "user_id", Seq("event_type", "props"), dimDir)
        val input = MemoryStream[(Long, String, String, Long, Long)]
        val stream = input.toDF()
          .toDF("user_id", "event_type", "props", "ts_us", "event_id")
        val q = StreamingLoads.foreachBatchScd2(
          stream, dim, "user_id", Seq("event_type", "props"), Seq("ts_us", "event_id"),
          bid => java.sql.Timestamp.valueOf(
            batchTs(math.min(bid.toInt, batchTs.size - 1))),
          trigger = Trigger.ProcessingTime(0)).start()
        try {
          try {
            // one micro-batch per window: add, drain, repeat —
            // processAllAvailable between adds pins the batchId ↔ window
            // mapping
            windows.foreach { case (_, rows) => input.addData(rows); q.processAllAvailable() }
          } finally q.stop()
          // localCheckpoint so the result outlives the temp table files
          dim.snapshot.select(
            col("user_id"), col("event_type"), col("props"), col("sk"),
            epochS(col("valid_from")).as("vf_epoch"),
            epochS(col("valid_to")).as("vt_epoch"),
            col("is_current")).localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dimDir) // also on failure
      },
      Some(s"""WITH w AS (
             |  SELECT user_id, event_type, props, epoch_ns(ts) // 1000 AS us, event_id,
             |         CASE ${Cutoffs.init.zipWithIndex.map { case (c, i) =>
                          s"WHEN epoch_ns(ts) // 1000 <= epoch_us(TIMESTAMP '$c') THEN ${i + 1}"
                        }.mkString(" ")} ELSE ${Cutoffs.size} END AS b
             |  FROM events
             |),
             |snap AS (
             |  SELECT b, user_id, event_type, props FROM (
             |    SELECT b, user_id, event_type, props,
             |           row_number() OVER (PARTITION BY user_id, b ORDER BY us DESC, event_id DESC) AS rn
             |    FROM w) t WHERE rn = 1
             |),
             |chg AS (
             |  SELECT b, user_id, event_type, props FROM (
             |    SELECT b, user_id, event_type, props,
             |           lag(event_type) OVER (PARTITION BY user_id ORDER BY b) AS pet,
             |           lag(props) OVER (PARTITION BY user_id ORDER BY b) AS pp,
             |           row_number() OVER (PARTITION BY user_id ORDER BY b) AS rn0
             |    FROM snap) t
             |  WHERE rn0 = 1 OR pet IS DISTINCT FROM event_type OR pp IS DISTINCT FROM props
             |),
             |v AS (
             |  SELECT user_id, event_type, props,
             |         ${cutoffCase} AS valid_from,
             |         lead(${cutoffCase})
             |           OVER (PARTITION BY user_id ORDER BY b) AS vt_next
             |  FROM chg
             |)
             |SELECT user_id, event_type, props,
             |       CAST(row_number() OVER (ORDER BY valid_from, user_id) AS BIGINT) AS sk,
             |       CAST(epoch(valid_from) AS BIGINT) AS vf_epoch,
             |       COALESCE(CAST(epoch(vt_next) AS BIGINT), ${Registry.InfinityEpoch}) AS vt_epoch,
             |       (vt_next IS NULL) AS is_current
             |FROM v""".stripMargin),
      harness = true),

    // Streaming M1 through the PARTITION-PRUNED write path — the round-7
    // storage shape under a real Structured Streaming query: each arrival
    // window is one micro-batch, each batch rewrites ONLY the PK-hash
    // buckets containing its keys (untouched buckets carry forward by
    // commit-log manifest reference). The oracle derives the same final
    // state relationally: per-user last snapshot, loaded_at = first
    // window the user appeared, last_upd_at = last window whose snapshot
    // CHANGED the tracked attrs — conditionalUpsert audit semantics
    // reproduced across five incremental loads. Equivalence to the batch
    // m1/m1b family is the assertion; only the write amplification
    // differs.
    Q("stream5_pruned_upsert",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext

        val windows = arrivalWindows(Tables.events(s, d)
          .select(windowTag.as("b"), col("user_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .collect()
          .map(r => (r.getInt(0), (r.getLong(1), r.getString(2), r.getDouble(3),
            r.getLong(4), r.getLong(5)))).toSeq)
        val batchTs = windows.map(_._1)

        val dir = java.nio.file.Files.createTempDirectory("stream5_upsert")
        val table = dir.resolve("stg_events")
        val input = MemoryStream[(Long, String, Double, Long, Long)]
        val stream = input.toDF()
          .toDF("user_id", "event_type", "value", "ts_us", "event_id")
        val q = StreamingLoads.foreachBatchPrunedUpsert(
          stream, table, pk = Seq("user_id"), tracked = Seq("event_type", "value"),
          versionCols = Seq("ts_us", "event_id"),
          runTsOf = bid => java.sql.Timestamp.valueOf(
            batchTs(math.min(bid.toInt, batchTs.size - 1))),
          nParts = 16, trigger = Trigger.ProcessingTime(0)).start()
        try {
          try windows.foreach { case (_, rows) => input.addData(rows); q.processAllAvailable() }
          finally q.stop()
          graft.ops.Storage.readPartitionedVersion(s, table).drop("pbucket")
            .select(col("user_id"), col("event_type"), col("value"),
              epochS(col("loaded_at")).as("loaded_epoch"),
              epochS(col("last_upd_at")).as("upd_epoch"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some {
        def cutoffEpochCase(c: String): String =
          s"CAST(epoch(CASE $c " + Cutoffs.zipWithIndex.map { case (t, i) =>
            s"WHEN ${i + 1} THEN TIMESTAMP '$t'"
          }.mkString(" ") + " END) AS BIGINT)"
        s"""WITH w AS (
           |  SELECT user_id, event_type, value, epoch_ns(ts) // 1000 AS us, event_id,
           |         CASE ${Cutoffs.init.zipWithIndex.map { case (c, i) =>
                        s"WHEN epoch_ns(ts) // 1000 <= epoch_us(TIMESTAMP '$c') THEN ${i + 1}"
                      }.mkString(" ")} ELSE ${Cutoffs.size} END AS b
           |  FROM events
           |),
           |snap AS (
           |  SELECT b, user_id, event_type, value FROM (
           |    SELECT b, user_id, event_type, value,
           |           row_number() OVER (PARTITION BY user_id, b ORDER BY us DESC, event_id DESC) AS rn
           |    FROM w) t WHERE rn = 1
           |),
           |seq AS (
           |  SELECT b, user_id, event_type, value,
           |         (row_number() OVER (PARTITION BY user_id ORDER BY b) = 1
           |          OR lag(event_type) OVER (PARTITION BY user_id ORDER BY b) IS DISTINCT FROM event_type
           |          OR lag(value) OVER (PARTITION BY user_id ORDER BY b) IS DISTINCT FROM value) AS changed
           |  FROM snap
           |),
           |agg AS (
           |  SELECT user_id, min(b) AS loaded_b, max(b) AS last_b,
           |         max(CASE WHEN changed THEN b END) AS upd_b
           |  FROM seq GROUP BY 1
           |)
           |SELECT a.user_id, s.event_type, s.value,
           |       ${cutoffEpochCase("a.loaded_b")} AS loaded_epoch,
           |       ${cutoffEpochCase("a.upd_b")} AS upd_epoch
           |FROM agg a JOIN snap s ON s.user_id = a.user_id AND s.b = a.last_b""".stripMargin
      },
      harness = true),

    // CDF-driven incremental VIEW MAINTENANCE under a real streaming
    // query: the base table takes five pruned-upsert loads; the stream is
    // a commit-log tail (one version number per commit), and each
    // micro-batch rolls a per-type aggregate forward — bootstrap snapshot
    // once, then ONLY each load's change feed (signed pre/post-image
    // partials through applyDelta), state durable in the aggregate's own
    // commit log. Hash-matching the full recompute of the final state
    // proves five chained incremental steps lose nothing. Batch twin: m9
    // (one step); this is the continuous form. Per-step cost at 100 TB:
    // the feed's changed buckets + touched groups — the base table is
    // scanned exactly once, at bootstrap.
    Q("stream6_cdf_view_maintenance",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        import graft.ops.MergeOps

        val windows = arrivalWindows(Tables.events(s, d)
          .select(windowTag.as("b"), col("user_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .collect()
          .map(r => (r.getInt(0), (r.getLong(1), r.getString(2), r.getDouble(3),
            r.getLong(4), r.getLong(5)))).toSeq)

        val dir = java.nio.file.Files.createTempDirectory("stream6_cdf")
        val base = dir.resolve("stg_events")
        val agg = dir.resolve("agg_by_type")
        def dec(c: Column) = c.cast("decimal(38,6)")
        val input = MemoryStream[Long]
        val q = StreamingLoads.foreachBatchCdfAggMaintain(
          input.toDF().toDF("v"), base, agg,
          pk = Seq("user_id"), compareCols = Seq("event_type", "value"),
          keys = Seq("event_type"), sums = Map("sum_value" -> dec(col("value"))),
          trigger = Trigger.ProcessingTime(0)).start()
        try {
          try windows.foreach { case (ts, rows) =>
            val stg = rows.toDF("user_id", "event_type", "value", "ts_us", "event_id")
            val v = MergeOps.prunedConditionalUpsert(base,
              MergeOps.latestByKey(stg, Seq("user_id"), Seq(col("ts_us"), col("event_id")))
                .select(col("user_id"), col("event_type"), col("value"),
                  lit(null).cast("timestamp").as("loaded_at"),
                  lit(null).cast("timestamp").as("last_upd_at")),
              pk = Seq("user_id"), tracked = Seq("event_type", "value"),
              runTs = lit(ts).cast("timestamp"), nParts = 16)
            input.addData(v); q.processAllAvailable()
          } finally q.stop()
          graft.ops.Storage.readVersion(s, agg)
            .select(col("event_type"), col("count_rows").as("cnt"),
              col("sum_value").cast("double").as("sum_value"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(dir)
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
             |FROM (SELECT event_type, value,
             |        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
             |      FROM events) t
             |WHERE rn = 1 GROUP BY event_type""".stripMargin),
      harness = true),

    // Streaming exact dedup — d1's streaming twin driver-checked: the
    // corpus replays in doc_id order (synthetic event time = doc_id
    // seconds) through dropDuplicatesWithinWatermark on the content
    // fingerprint; the watermark horizon exceeds the replay span, so the
    // kept row per text is the FIRST to arrive = min doc_id — exactly
    // the batch survivor rule. Dedup state is BOUNDED by the watermark
    // (the 100 TB/day property an unbounded dropDuplicates lacks); each
    // replay chunk is one MemoryStream block, so within-batch arrival
    // order is the block's row order and the kept doc_id deterministic.
    Q("stream7_dedup_equiv",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")).as[(Long, String)].collect().toSeq
        // the equivalence REQUIRES the replay span to fit inside the dedup
        // horizon — beyond it, state eviction would re-emit late duplicates
        // and the divergence would look like an operator bug, not a
        // fixture one; fail at the real cause
        require(docs.isEmpty || docs.last._1 - docs.head._1 < 30L * 86400,
          s"doc_id span ${docs.last._1 - docs.head._1}s exceeds the 30-day dedup horizon")
        val input = MemoryStream[(Long, String)]
        val stream = input.toDF().toDF("doc_id", "text")
          .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
        val sink = s"stream7_out_${System.identityHashCode(input)}"
        val q = StreamingLoads.streamingExactDedup(
            stream, md5(col("text")), "ts", watermark = "30 days")
          .writeStream.outputMode("append").format("memory").queryName(sink)
          .trigger(Trigger.ProcessingTime(0)).start()
        try {
          val chunkLen = math.max(1, (docs.length + 2) / 3)
          docs.grouped(chunkLen).foreach { c =>
            input.addData(c); q.processAllAvailable()
          }
        } finally q.stop()
        s.table(sink).select(col("doc_id")).localCheckpoint()
      },
      Some("SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"),
      harness = true),

    // Continuous maintenance of the PERSISTED ANN index (VERDICT r10
    // item 7 — sim7's maintainer wired into the stream6/stream8
    // commit-log-tail machinery): the embeddings corpus evolves through
    // three committed loads — a perturbed bootstrap (2/3 of vectors, some
    // later updated), the restored full truth (inserts + list-moving
    // updates), and a takedown (deletes) — and after EACH commit a
    // streaming micro-batch rolls the index forward from the change feed
    // alone (re-encode upserts, pre-image-located removals, one commit
    // carrying the applied marker; a duplicate delivery no-ops). The
    // model is trained once on the bootstrap and FROZEN — ingest never
    // retrains. Oracle contract (re-drawn per VERDICT r11 "What's wrong
    // #2", same re-contract as sim7): the hash check pins (a) the exact
    // brute-force top-10 over the FINAL corpus read from the MAINTAINED
    // base table — so the CDC/upsert/delete machinery still faces the
    // DuckDB oracle — and (b) `index_agrees`: after three generations of
    // incremental maintenance, searching the stored index must be
    // bit-identical to running ivfPqTopK on the fly over the final
    // corpus under the model read back from the index. A frozen
    // perturbed-bootstrap model cannot deliver exact recall at any
    // pruned nprobe (round-12 grid, see sim7), so equivalence-to-the-
    // reference-algorithm is the correct thing to verify — it fails if
    // ANY maintenance generation corrupted, dropped, or duplicated an
    // index row, which is what this operator adds over sim6.
    Q("stream9_ann_index_maintain",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        import graft.ops.{AnnIndex, MergeOps, Similarity, Storage}
        val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val dir = java.nio.file.Files.createTempDirectory("stream9")
        val base = dir.resolve("embeddings")
        val idx = dir.resolve("annidx")
        def load(df: org.apache.spark.sql.DataFrame, ts: String): Long =
          MergeOps.prunedConditionalUpsert(base,
            df.withColumn("loaded_at", lit(null).cast("timestamp"))
              .withColumn("last_upd_at", lit(null).cast("timestamp")),
            pk = Seq("vec_id"), tracked = Seq("embedding"),
            runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 8)
        try {
          val wave1 = e.filter(col("vec_id") % 3 =!= 0)
            .withColumn("embedding",
              when(col("vec_id") % 5 === 0,
                transform(col("embedding"), x => x + lit(0.25)))
                .otherwise(col("embedding")))
          val v0 = load(wave1, "2024-01-01 00:00:00")
          val boot = Storage.readPartitionedVersion(s, base)
            .select(col("vec_id"), col("embedding"))
          AnnIndex.bootstrap(idx, boot,
            Similarity.kmeansCentroids(boot, c = 8, iters = 3),
            Similarity.pqCodebooks(boot, m = 16, ksub = 16, iters = 2),
            m = 16)
          val input = MemoryStream[Long]
          val q = StreamingLoads.foreachBatchAnnIndexMaintain(
            input.toDF().toDF("v"), base, idx,
            trigger = Trigger.ProcessingTime(0)).start()
          try {
            input.addData(v0); q.processAllAvailable()
            val v1 = load(e, "2024-01-15 00:00:00")
            input.addData(v1); q.processAllAvailable()
            val v2 = MergeOps.prunedDelete(base,
              e.select(col("vec_id")).filter(col("vec_id") % 11 === 0),
              pk = Seq("vec_id"), nParts = 8, keepVersions = 8)
            input.addData(v2); q.processAllAvailable()
            input.addData(v2); q.processAllAvailable() // duplicate: must no-op
          } finally q.stop()
          val fin = Storage.readPartitionedVersion(s, base)
            .select(col("vec_id"), col("embedding")).localCheckpoint()
          val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
          val rerank = math.max(100L, e.count() / 10).toInt
          val stored = AnnIndex.search(s, idx, rerankSource = fin,
            queryVec = qv, k = 10, nprobe = 4, rerank = rerank)
          val fly = Similarity.ivfPqTopK(fin, qv,
            Storage.readVersion(s, idx.resolve("centroids")),
            Storage.readVersion(s, idx.resolve("codebooks")),
            m = 16, k = 10, nprobe = 4, rerank = rerank)
          val agrees = // 2×k driver rows; bit-exact doubles by construction
            stored.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
              fly.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          Similarity.bruteForceTopK(fin, qv, 10)
            .withColumn("index_agrees", lit(agrees))
            .localCheckpoint()
        } finally Storage.deleteRecursively(dir)
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 11 <> 0),
             |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
             |ex AS (SELECT vec_id, CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e10) AS HUGEINT) AS u,
             |       unnest(range(len(embedding))) AS i FROM e),
             |qx AS (SELECT CAST(FLOOR(CAST(unnest(qe) AS DOUBLE) * 1e10) AS HUGEINT) AS u,
             |       unnest(range(len(qe))) AS i FROM q),
             |dots AS (SELECT ex.vec_id,
             |    CAST(CAST(SUM(ex.u * qx.u) AS VARCHAR) AS DOUBLE) AS dot,
             |    CAST(CAST(SUM(ex.u * ex.u) AS VARCHAR) AS DOUBLE) AS n2
             |  FROM ex JOIN qx USING (i) GROUP BY ex.vec_id),
             |qn AS (SELECT CAST(CAST(SUM(u * u) AS VARCHAR) AS DOUBLE) AS qn2 FROM qx)
             |SELECT vec_id, dot / (sqrt(n2) * sqrt(qn2)) AS cos_sim, TRUE AS index_agrees
             |FROM dots, qn
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      harness = true),

    // Workspace transactions at streaming cadence (round 13): every
    // micro-batch maintains TWO dependent marts — per-type totals and the
    // per-user activity ledger — with signed-partial applyDelta merges,
    // and publishes both in ONE Workspace.commitAll, so a cross-mart
    // reader between any two micro-batches sees a consistent pair (the
    // atomicity/CAS/crash semantics are WorkspaceSpec-proven; this row
    // proves the streaming integration and the incremental == recompute
    // equivalence at the gate). Per-batch cost: the batch's groups + the
    // touched mart rows + one manifest CAS — never the history. The
    // final state must hash-match a full relational recompute, and the
    // users_total column comes from the SECOND mart, so both tables'
    // materialization is checked through one row.
    Q("stream10_workspace_maintain",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        import graft.ops.{AggMaintain, Workspace}

        val batches = Tables.events(s, d)
          .select(pmod(col("event_id"), lit(4L)).cast("int").as("b"),
            col("user_id"), col("event_type"), col("value"))
          .collect()
          .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.toSeq.map(r => (r.getLong(1), r.getString(2), r.getDouble(3))))

        val ws = java.nio.file.Files.createTempDirectory("stream10_ws")
        val input = MemoryStream[(Long, String, Double)]
        val stream = input.toDF().toDF("user_id", "event_type", "value")
        def dec(c: Column) = c.cast("decimal(38,6)")
        val q = stream.writeStream
          .outputMode("append")
          .trigger(Trigger.ProcessingTime(0))
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
            val dA = batch.groupBy(col("event_type"))
              .agg(count(lit(1)).as("count_rows"), sum(dec(col("value"))).as("sum_value"))
            val dB = batch.groupBy(col("user_id"))
              .agg(count(lit(1)).as("count_rows"))
            val pins = Workspace.snapshot(ws)._2
            val sA = if (pins.contains("by_type"))
              Workspace.readSnapshot(s, ws, "by_type") else dA.limit(0)
            val sB = if (pins.contains("by_user"))
              Workspace.readSnapshot(s, ws, "by_user") else dB.limit(0)
            // the batch id is the exactly-once token: a foreachBatch
            // redelivery finds its published manifest and no-ops instead
            // of double-applying the delta. basedOn pins the snapshot the
            // deltas were derived from, so a concurrent overlapping writer
            // forces an abort instead of a silently lost update
            Workspace.commitAll(ws, Map(
              "by_type" -> AggMaintain.applyDelta(sA, dA,
                keys = Seq("event_type"), sumCols = Seq("sum_value")),
              "by_user" -> AggMaintain.applyDelta(sB, dB,
                keys = Seq("user_id"), sumCols = Seq.empty)),
              keepVersions = 8, idempotencyToken = Some(s"stream10-$bid"),
              basedOn = Some(pins))
            ()
          }
          .start()
        try {
          try batches.foreach { rows => input.addData(rows); q.processAllAvailable() }
          finally q.stop()
          val usersTotal = Workspace.readSnapshot(s, ws, "by_user").count()
          Workspace.readSnapshot(s, ws, "by_type")
            .select(col("event_type"), col("count_rows").as("cnt"),
              col("sum_value").cast("double").as("sum_value"),
              lit(usersTotal).as("users_total"))
            .localCheckpoint()
        } finally graft.ops.Storage.deleteRecursively(ws)
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             |       (SELECT count(DISTINCT user_id) FROM events) AS users_total
             |FROM events GROUP BY event_type""".stripMargin),
      harness = true),

    // Continuous N-ARY STAR-view maintenance, gated end-to-end: the
    // streaming twin of MatViews.maintainStar (foreachBatchStarViewMaintain
    // — previously spec-only) consumes the MERGED commit-log tail of
    // three tables through a real Structured Streaming query and rolls a
    // fact⋈dim⋈dim rollup forward per micro-batch by the generalized
    // delta rule. The replay drives a ONE-SIDED interval (dim truth), a
    // MULTI-SIDE interval (second dim + fact truth + a takedown delete in
    // one batch — cross terms must cancel, the deleted min-holders
    // re-join), and a duplicate wake-up (the marker already names the
    // current versions → REQUIREd no-op, the resume/duplicate-delivery
    // proof). The final view hash-matches DuckDB's full recompute. At
    // 100 TB this is the always-fresh datamart: per batch O(Σ|Δ| ×
    // fan-out + touched groups), never a base re-join after bootstrap.
    Q("stream11_star_view_maintain",
      (s, d) => withShufflePartitions(s, 4) {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx = s.sqlContext
        import graft.ops.{MatViews, MergeOps, Storage}
        def dec(c: Column) = c.cast("decimal(38,6)")
        val dir = java.nio.file.Files.createTempDirectory("stream11")
        val nat = dir.resolve("dim_nation")
        val cust = dir.resolve("dim_customer")
        val ord = dir.resolve("fct_orders")
        val view = dir.resolve("view")
        try {
          val nTrue = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
          val cTrue = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
          // %3 fact slice — the row times the streaming maintainer, not
          // the fixture loads (same rationale as mv3/mv5)
          val oTrue = Tables.orders(s, d).select(col("o_orderkey"),
            col("o_custkey"), col("o_totalprice"))
            .filter(col("o_orderkey") % 3 === 0)
          def stamp(df: org.apache.spark.sql.DataFrame) = df
            .withColumn("loaded_at", lit(null).cast("timestamp"))
            .withColumn("last_upd_at", lit(null).cast("timestamp"))
          def loadNat(df: org.apache.spark.sql.DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(nat, stamp(df),
              pk = Seq("n_nationkey"), tracked = Seq("n_name"),
              runTs = lit(ts).cast("timestamp"), nParts = 4, keepVersions = 4)
          def loadCust(df: org.apache.spark.sql.DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(cust, stamp(df),
              pk = Seq("c_custkey"), tracked = Seq("c_nationkey"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          def loadOrd(df: org.apache.spark.sql.DataFrame, ts: String) =
            MergeOps.prunedConditionalUpsert(ord,
              stamp(df.withColumn("o_totalprice", dec(col("o_totalprice")))),
              pk = Seq("o_orderkey"), tracked = Seq("o_custkey", "o_totalprice"),
              runTs = lit(ts).cast("timestamp"), nParts = 8, keepVersions = 4)
          // churned bootstrap state BEFORE the stream starts
          loadNat(nTrue.filter(col("n_nationkey") % 5 =!= 0), "2024-01-15 00:00:00")
          loadCust(cTrue.filter(col("c_custkey") % 7 =!= 0)
            .withColumn("c_nationkey",
              when(col("c_custkey") % 10 === 0,
                ((col("c_nationkey") + 1) % 25).cast("int"))
                .otherwise(col("c_nationkey"))), "2024-01-15 00:00:00")
          loadOrd(oTrue.filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_totalprice",
              when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 42.0)
                .otherwise(col("o_totalprice"))), "2024-01-15 00:00:00")
          val sides = Seq(MatViews.StarSide(ord, Seq("o_orderkey")),
            MatViews.StarSide(cust, Seq("c_custkey")),
            MatViews.StarSide(nat, Seq("n_nationkey")))
          val input = MemoryStream[Int]
          val q = StreamingLoads.foreachBatchStarViewMaintain(
            input.toDF(), sides, view,
            joinKeys = Seq("o_custkey" -> "c_custkey",
              "c_nationkey" -> "n_nationkey"),
            keys = Seq("n_name"),
            sums = Map("o_totalprice" -> "sum_rev"),
            counts = Map("o_totalprice" -> "cnt_rev"),
            mins = Map("o_totalprice" -> "min_rev"),
            keepVersions = 2, trigger = Trigger.ProcessingTime(0)).start()
          try {
            input.addData(1); q.processAllAvailable() // bootstrap
            loadCust(cTrue, "2024-02-01 00:00:00") // one-sided interval
            input.addData(2); q.processAllAvailable()
            // multi-side interval: dim truth + fact truth + takedown,
            // rolled in ONE batch
            loadNat(nTrue, "2024-02-01 00:00:00")
            loadOrd(oTrue, "2024-02-01 00:00:00")
            MergeOps.prunedDelete(ord,
              oTrue.select(col("o_orderkey")).filter(col("o_orderkey") % 13 === 0),
              pk = Seq("o_orderkey"), nParts = 8, keepVersions = 4)
            input.addData(3); q.processAllAvailable()
            val vDone = Storage.currentVersion(view).get
            require(MatViews.appliedVersions(view).exists(_ ==
              sides.map(x => Storage.currentVersion(x.table).get)),
              "the marker must name every side's current version")
            input.addData(4); q.processAllAvailable() // duplicate wake
            require(Storage.currentVersion(view).get == vDone,
              "a wake-up with no new commits must not re-commit the view")
          } finally q.stop()
          Storage.readVersion(s, view)
            .select(col("n_name"), col("count_rows").as("cnt"),
              col("sum_rev").cast("double").as("sum_rev"), col("cnt_rev"),
              col("min_rev").cast("double").as("min_rev"))
            .localCheckpoint()
        } finally Storage.deleteRecursively(dir)
      },
      Some("""SELECT n_name, count(*) AS cnt,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_rev,
             |  count(o_totalprice) AS cnt_rev,
             |  CAST(min(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS min_rev
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |            JOIN nation ON c_nationkey = n_nationkey
             |WHERE o_orderkey % 3 = 0 AND o_orderkey % 13 <> 0
             |GROUP BY n_name""".stripMargin),
      harness = true)
  )
}
