package graft.streaming

import graft.ops.{MergeOps, Scd2}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, window}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming forms of the reference's incremental loads
  * (SURVEY.md §2.9: the reference is batch-only; this is the §7.6(c)
  * extension, mapping its relational incrementality onto streams).
  *
  *  - [[windowedEventCounts]]: watermarked tumbling-window aggregation —
  *    the streaming twin of the e2_hourly_windows batch query. Watermark
  *    bounds state; late rows beyond it are dropped, so state size is
  *    O(windows in flight × key cardinality), not O(stream).
  *  - [[foreachBatchUpsert]]: micro-batch M1/M2 — each batch merges into the
  *    target table with the SAME MergeOps used in batch mode (foreachBatch
  *    is where Delta MERGE would slot in on a real deployment).
  *
  * At 100 TB/day the same topology holds: source partitions = Kafka
  * partitions, state store backed by RocksDB, watermark tuned to lateness.
  */
object StreamingLoads {

  /** Watermarked tumbling-window counts per event_type over a streaming
    * events source. `events` must be a streaming DataFrame with (ts
    * TIMESTAMP, event_type STRING, value DOUBLE). */
  def windowedEventCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // decimal(18,2), not (10,2): under ANSI (Spark 4 default) a single
      // |value| ≥ 1e8 would make the narrower cast THROW inside the
      // micro-batch and poison the streaming query on every restart
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup — d1's streaming twin: keep the first row per
    * fingerprint, with `dropDuplicatesWithinWatermark` so the dedup
    * state is BOUNDED by the watermark (an unbounded `dropDuplicates`
    * would grow state forever at 100 TB/day ingest; within-watermark
    * semantics keep exactly the dedup window a crawl pipeline wants:
    * duplicates arriving inside the late-data horizon collapse, ancient
    * state ages out). `tsCol` must be an event-time column. */
  def streamingExactDedup(docs: DataFrame, fingerprint: Column,
      tsCol: String, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", fingerprint)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Micro-batch conditional upsert into a parquet-backed table: every
    * micro-batch applies M1 semantics against the accumulated state
    * (foreachBatch is where Delta MERGE would slot in at deploy).
    * `runTsOf` stamps each batch's audit columns — same contract as
    * [[foreachBatchScd2]]. Returns the writer; caller starts/stops it. */
  def foreachBatchUpsert(
      incoming: DataFrame,
      state: StreamingTableState,
      pk: Seq[String],
      tracked: Seq[String],
      runTsOf: Long => java.sql.Timestamp): DataStreamWriter[Row] =
    incoming.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        state.merge(batch, pk, tracked, lit(runTsOf(batchId)))
      }

  /** Micro-batch M1 through the PARTITION-PRUNED write path
    * ([[MergeOps.prunedConditionalUpsert]]): each batch rewrites ONLY the
    * PK-hash buckets containing its keys; every untouched bucket carries
    * forward by commit-log manifest reference, bytes unmoved. This is the
    * 100 TB/day streaming-ingest shape — per-batch write cost scales with
    * the batch, not the table (a full-rewrite upsert per micro-batch
    * multiplies table-size write amplification by trigger frequency).
    * Batches reduce to latest-per-key first, like the batch loads. */
  def foreachBatchPrunedUpsert(
      incoming: DataFrame,
      table: java.nio.file.Path,
      pk: Seq[String],
      tracked: Seq[String],
      versionCols: Seq[String],
      runTsOf: Long => java.sql.Timestamp,
      nParts: Int,
      trigger: Trigger = Trigger.AvailableNow(),
      keepVersions: Int = 1): DataStreamWriter[Row] = {
    graft.ops.Storage.repairOrphans(table) // same startup contract as Scd2Table
    incoming.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stg = MergeOps.latestByKey(batch, pk, versionCols.map(col))
          .select((pk ++ tracked).map(col): _*)
          .withColumn("loaded_at", lit(null).cast("timestamp"))
          .withColumn("last_upd_at", lit(null).cast("timestamp"))
        // fileStats=false: a per-micro-batch footer pass buys no skipping
        // on a small hot table; scheduled compaction restores stats.
        // keepVersions sizes the change-feed tail for downstream
        // consumers (foreachBatchCdfAggMaintain's lag window).
        MergeOps.prunedConditionalUpsert(table, stg, pk, tracked,
          lit(runTsOf(batchId)), nParts, fileStats = false,
          keepVersions = keepVersions)
        ()
      }
  }

  /** Streaming SCD2: each micro-batch runs the SAME close-and-insert merge
    * the batch dimension load uses (§2.9 mapping: SCD2 → foreachBatch +
    * atomic table swap; Delta MERGE at deploy). The batch is reduced to
    * its latest observation per key first — within-batch history is
    * collapsed exactly like the reference's per-run staging snapshot. */
  def foreachBatchScd2(
      incoming: DataFrame,
      dim: Scd2Table,
      bk: String,
      tracked: Seq[String],
      versionCols: Seq[String],
      runTsOf: Long => java.sql.Timestamp,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    incoming.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val stg = MergeOps.latestByKey(batch, Seq(bk), versionCols.map(col))
          .select((bk +: tracked).map(col): _*)
        dim.merge(stg, bk, tracked, lit(runTsOf(batchId)))
      }

  /** Incremental-view maintenance driven by the commit log's change feed:
    * the stream carries BASE-TABLE VERSION numbers (a commit-log tail —
    * in production, a notification per commit); each micro-batch rolls a
    * materialized aggregate forward by the feed of its versions. The
    * bootstrap version seeds the state with a one-time snapshot
    * aggregation; every later version applies signed pre/post-image
    * partials through [[graft.ops.AggMaintain.applyDelta]]. The aggregate
    * itself commits through the versioned log, so a restart resumes from
    * the last committed state. Per-version cost after bootstrap: the
    * feed's changed buckets + touched groups — the base table is never
    * rescanned while the consumer keeps up. `sums` maps output column →
    * source expression over the base/feed rows (fold in DECIMAL for
    * exactness).
    *
    * Failure semantics, both through the aggregate's own commit log:
    *  - EXACTLY-ONCE APPLY: the applied base version rides inside each
    *    aggregate commit (`_APPLIED_BASE_V`, the Delta `txn` action's
    *    role) — atomic with the state, so a foreachBatch retry or any
    *    re-delivered version number SKIPS instead of double-applying.
    *  - LAG PAST RETENTION: the feed needs the last-applied version's
    *    manifest; if base-table vacuum already swept it (consumer fell
    *    more than the base's keepVersions behind), the consumer
    *    self-heals with a one-time snapshot recompute at the delivered
    *    version — correct at O(table) cost, the price of lagging. Size
    *    the base's keepVersions to the worst consumer lag to avoid it. */
  def foreachBatchCdfAggMaintain(
      versions: DataFrame,
      base: java.nio.file.Path,
      agg: java.nio.file.Path,
      pk: Seq[String],
      compareCols: Seq[String],
      keys: Seq[String],
      sums: Map[String, Column],
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    graft.ops.Storage.repairOrphans(agg) // same startup contract as Scd2Table
    import org.apache.spark.sql.functions.when
    val AppliedMarker = graft.ops.MatViews.AppliedMarker
    versions.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // a batch holds a handful of version NUMBERS — driver-side by design
        val vs = batch.select(col("v").cast("long")).collect().map(_.getLong(0)).sorted
        vs.foreach { v =>
          val applied = graft.ops.Storage.currentVersion(agg).flatMap { av =>
            val f = agg.resolve(s"v$av").resolve(AppliedMarker)
            if (java.nio.file.Files.exists(f))
              Some(new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong)
            else None
          }
          def snapshotAgg = graft.ops.Storage.readPartitionedVersionAt(spark, base, v)
            .groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("count_rows"),
              sums.map { case (n, c) => sum(c).as(n) }.toSeq: _*)
          def feedDelta(a: Long) = {
            // feed from the last APPLIED version (not v-1): a batch of
            // several versions, or a skipped no-op, rolls up in one diff
            val cdf = graft.ops.Cdc.changeDataFeed(
              spark, base, a, v, pk, compareCols, preImages = true)
            val sign = when(
              col("change_type").isin("insert", "update_postimage"), 1)
              .otherwise(-1)
            val delta = cdf.groupBy(keys.map(col): _*)
              .agg(sum(sign.cast("long")).as("count_rows"),
                sums.map { case (n, c) => sum(sign * c).as(n) }.toSeq: _*)
            graft.ops.AggMaintain.applyDelta(
              graft.ops.Storage.readVersion(spark, agg), delta,
              keys, sums.keys.toSeq)
          }
          val next = applied match {
            case Some(a) if v <= a => None // duplicate delivery: already applied
            case _ if !graft.ops.Storage.partitionManifestRetained(base, v) =>
              None // v itself already vacuumed (replay of a stale backlog):
                   // superseded — a later retained delivery re-bootstraps
            case Some(a) if graft.ops.Storage.partitionManifestRetained(base, a) =>
              // the retained check races a concurrent producer's vacuum
              // (separate processes by design): if the manifest vanishes
              // between check and read, fall back to the re-bootstrap
              // instead of failing the micro-batch
              try Some(feedDelta(a))
              catch { case _: IllegalArgumentException => Some(snapshotAgg) }
            case Some(_) => Some(snapshotAgg) // lagged past retention: re-bootstrap
            case None => Some(snapshotAgg)    // first ever version: bootstrap
          }
          next.foreach(n => graft.ops.Storage.commitVersion(n, agg,
            extraFiles = Map(AppliedMarker -> v.toString),
            fileStats = false)) // tiny hot table: skip the footer pass
        }
        ()
      }
  }

  /** Continuous CROSS-TABLE view maintenance — the streaming form of
    * [[graft.ops.ViewMaintain.joinDelta]] (batch twin: the m11 row) and
    * the two-table generalization of [[foreachBatchCdfAggMaintain]].
    *
    * The input stream is the MERGED commit-log tail of BOTH base tables:
    * one (tbl, v) row per commit, `tbl` ∈ {"a", "b"}. Each micro-batch
    * rolls the per-key aggregate view over A ⋈ B forward by the delta-join
    * rule — Δ(A⋈B) = ΔA⋈B₁ ∪ A₀⋈ΔB, change feeds signed, folded through
    * [[graft.ops.AggMaintain.applyDelta]] — so per batch the work is the
    * two feeds' changed buckets + touched groups; the base tables are
    * joined in full exactly once, at bootstrap. A batch that carries
    * several commits (or commits for only one side) rolls them up into ONE
    * two-sided interval. The applied (vA, vB) pair commits WITH the view
    * state, so duplicate delivery is a no-op and a fresh query resumes
    * from the marker; lagging past either base's retention re-bootstraps,
    * same contract as the single-table form.
    *
    * `pkX`/`compareX` define each side's change feed; the view's columns
    * are pkA++compareA and pkB++compareB (must be disjoint across sides —
    * joinDelta's flat-row contract). `groupKeys` and `sums` shape the
    * maintained aggregate. */
  /** Continuous N-ARY STAR-view maintenance — the streaming twin of
    * [[graft.ops.MatViews.maintainStar]] and the generalization of
    * [[foreachBatchJoinViewMaintain]] past two tables. The input stream
    * is the merged commit-log tail of the sides; here the events are a
    * WAKE-UP HINT, not the unit of progress — each non-empty micro-batch
    * rolls the view from its `_APPLIED_BASES_V` marker to every side's
    * CURRENT committed version through the generalized delta rule, and
    * the marker commits WITH the state. Consequences, all inherited from
    * maintainStar's contract: duplicate delivery and full replays are
    * no-ops (the marker already names the current versions); a fresh
    * query resumes from the marker; lagging past any side's retention —
    * or a side that is a flat full-rewrite table — re-BOOTSTRAPS with
    * one join+aggregate; and the moment the marker tuple matches the
    * committed versions, [[graft.ops.MatViews.registerStarRewrite]]
    * freshness holds and ad-hoc star aggregates re-plan onto the view.
    * A batch delivered before every side has a first commit waits (the
    * join needs all sides). Per-batch cost: O(Σ|Δ| × fan-out + touched
    * groups), the base tables joined in full exactly once at bootstrap. */
  def foreachBatchStarViewMaintain(
      versions: DataFrame,
      sides: Seq[graft.ops.MatViews.StarSide],
      view: java.nio.file.Path,
      joinKeys: Seq[(String, String)],
      keys: Seq[String],
      sums: Map[String, String] = Map.empty,
      counts: Map[String, String] = Map.empty,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty,
      keepVersions: Int = 1,
      trigger: Trigger = Trigger.AvailableNow(),
      kmvs: Map[String, String] = Map.empty,
      kmvK: Int = 64): DataStreamWriter[Row] = {
    graft.ops.Storage.repairOrphans(view) // single-writer startup contract
    versions.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty &&
            sides.forall(s => graft.ops.Storage.currentVersion(s.table).nonEmpty)) {
          graft.ops.MatViews.maintainStar(spark, sides, view, joinKeys, keys,
            sums = sums, counts = counts, mins = mins, maxs = maxs,
            keepVersions = keepVersions, kmvs = kmvs, kmvK = kmvK)
        }
        ()
      }
  }

  def foreachBatchJoinViewMaintain(
      versions: DataFrame,
      tableA: java.nio.file.Path,
      tableB: java.nio.file.Path,
      view: java.nio.file.Path,
      pkA: Seq[String], compareA: Seq[String],
      pkB: Seq[String], compareB: Seq[String],
      joinKeysA: Seq[String], joinKeysB: Seq[String],
      groupKeys: Seq[String],
      sums: Map[String, Column],
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    import graft.ops.{AggMaintain, Cdc, Storage, ViewMaintain}
    val colsA = pkA ++ compareA
    val colsB = pkB ++ compareB
    require(colsA.intersect(colsB).isEmpty,
      s"A and B columns must be disjoint (shared: ${colsA.intersect(colsB)})")
    Storage.repairOrphans(view) // single-writer startup contract
    // shared with MatViews.appliedBases/registerJoinRewrite — a
    // stream-maintained join view is transparently rewritable the moment
    // its marker pair matches both bases' committed versions
    val Marker = graft.ops.MatViews.AppliedBasesMarker
    versions.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // a batch holds a handful of (tbl, version) EVENTS — driver-sized
        val evs = batch.select(col("tbl"), col("v").cast("long")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        val evA = evs.collect { case ("a", v) => v }.maxOption
        val evB = evs.collect { case ("b", v) => v }.maxOption
        if (evA.nonEmpty || evB.nonEmpty) {
          val applied: Option[(Long, Long)] = Storage.currentVersion(view).flatMap { vv =>
            val f = view.resolve(s"v$vv").resolve(Marker)
            if (java.nio.file.Files.exists(f)) {
              val Array(a, b) = new String(
                java.nio.file.Files.readAllBytes(f), "UTF-8").trim.split(",")
              Some((a.toLong, b.toLong))
            } else None
          }
          // roll every delivered commit up into one two-sided interval; a
          // side with no event (or a stale duplicate) keeps its mark — and
          // on a FIRST delivery that names only one side, the other side
          // bootstraps at its current committed version
          def target(mark: Option[Long], ev: Option[Long], tbl: java.nio.file.Path) =
            (mark.toSeq ++ ev.toSeq) match {
              case Seq() => Storage.currentVersion(tbl).getOrElse(-1L)
              case xs    => xs.max
            }
          val tA = target(applied.map(_._1), evA, tableA)
          val tB = target(applied.map(_._2), evB, tableB)
          def proj(df: DataFrame, cols: Seq[String]) = df.select(cols.map(col): _*)
          def snapshotAgg = proj(
              Storage.readPartitionedVersionAt(spark, tableA, tA), colsA).alias("a")
            .join(proj(Storage.readPartitionedVersionAt(spark, tableB, tB), colsB).alias("b"),
              joinKeysA.zip(joinKeysB)
                .map { case (ka, kb) => col(s"a.$ka") === col(s"b.$kb") }
                .reduce(_ && _))
            .groupBy(groupKeys.map(col): _*)
            .agg(count(lit(1)).as("count_rows"),
              sums.map { case (n, c) => sum(c).as(n) }.toSeq: _*)
          def feedDelta(a: Long, b: Long) = {
            val aOld = proj(Storage.readPartitionedVersionAt(spark, tableA, a), colsA)
            val bNew = proj(Storage.readPartitionedVersionAt(spark, tableB, tB), colsB)
            def signedFeed(tbl: java.nio.file.Path, from: Long, to: Long,
                pk: Seq[String], cmp: Seq[String], unchanged: DataFrame) =
              if (to == from)
                unchanged.limit(0).withColumn("sign", lit(1).cast("int"))
              else ViewMaintain.signed(Cdc.changeDataFeed(
                spark, tbl, from, to, pk, cmp, preImages = true))
            val dA = signedFeed(tableA, a, tA, pkA, compareA, aOld)
            val dB = signedFeed(tableB, b, tB, pkB, compareB, bNew)
            val viewDelta = ViewMaintain.joinDelta(aOld, dA, bNew, dB,
              joinKeysA, joinKeysB)
            val deltaAgg = viewDelta.groupBy(groupKeys.map(col): _*)
              .agg(sum(col("sign").cast("long")).as("count_rows"),
                sums.map { case (n, c) => sum(col("sign") * c).as(n) }.toSeq: _*)
            AggMaintain.applyDelta(Storage.readVersion(spark, view), deltaAgg,
              groupKeys, sums.keys.toSeq)
          }
          val bothCommitted = Storage.currentVersion(tableA).nonEmpty &&
            Storage.currentVersion(tableB).nonEmpty
          // a plain commitVersion base has no partition manifests: every
          // retained-check below would be false forever and the maintainer
          // would consume events while committing NOTHING — fail loudly at
          // the first delivery instead of silently no-opping
          if (bothCommitted)
            Seq(("A", tableA), ("B", tableB)).foreach { case (tag, t) =>
              require(Storage.currentVersion(t)
                  .exists(v => Storage.partitionManifestRetained(t, v)),
                s"join-view maintenance base $tag ($t) is not " +
                  "partition-manifested — commit it with commitPartitions/" +
                  "prunedConditionalUpsert, not commitVersion")
            }
          val next = applied match {
            case _ if !bothCommitted => None // cannot join a missing side yet
            case Some((a, b)) if tA == a && tB == b =>
              None // duplicate delivery: already applied
            case _ if !Storage.partitionManifestRetained(tableA, tA) ||
                !Storage.partitionManifestRetained(tableB, tB) =>
              None // stale backlog: targets vacuumed, a later delivery supersedes
            case Some((a, b)) if Storage.partitionManifestRetained(tableA, a) &&
                Storage.partitionManifestRetained(tableB, b) =>
              // the retained checks race a concurrent producer's vacuum —
              // fall back to the re-bootstrap instead of failing the batch
              try Some(feedDelta(a, b))
              catch { case _: IllegalArgumentException => Some(snapshotAgg) }
            case Some(_) => Some(snapshotAgg) // lagged past retention
            case None => Some(snapshotAgg)    // first delivery: bootstrap
          }
          next.foreach(n => Storage.commitVersion(n, view,
            extraFiles = Map(Marker -> s"$tA,$tB"),
            fileStats = false)) // tiny hot table: skip the footer pass
        }
        ()
      }
  }

  /** Continuous maintenance of the PERSISTED ANN INDEX
    * ([[graft.ops.AnnIndex]]) from its base embeddings table's commit-log
    * tail — the [[foreachBatchCdfAggMaintain]] machinery applied to the
    * index (VERDICT r10 item 7): the index follows the live corpus.
    *
    * `versions` streams `v` LONG commit events for `base` (a
    * partition-manifested table with (idCol, vecCol) among its columns).
    * Each micro-batch diffs base between the applied marker and the
    * highest delivered version with the change feed: inserts and update
    * POST-images re-encode and replace their index rows; deletes and
    * update PRE-images locate their IVF list from the pre-image vector
    * and leave it (a list-moving update is thereby handled: old row out
    * of the old list, new row into the new one). The whole delta lands in
    * ONE codes-table commit carrying the applied marker
    * ([[graft.ops.AnnIndex.applyDelta]]), so duplicate delivery no-ops,
    * a restart resumes from the marker, and a crash between feed and
    * commit re-applies idempotently. Lagging past base retention
    * re-bootstraps from the snapshot ([[graft.ops.AnnIndex.rebuild]]).
    * Per batch the work is O(changed vectors + touched lists) — the
    * model stays frozen and the index is never rescanned.
    *
    * `rebootstrapAt` is the model-drift guard (VERDICT r11 stretch):
    * when the fraction of the index encoded since the last training
    * ([[graft.ops.AnnIndex.driftFraction]]) exceeds the threshold after
    * a batch applies, the maintainer RETRAINS the model on the current
    * corpus snapshot and re-encodes ([[graft.ops.AnnIndex
    * .retrainBootstrap]], same stored geometry) — so a long-lived index
    * cannot silently degrade toward the frozen-partial-model recall loss
    * sim7's red round demonstrated. The retrain commit carries the same
    * applied marker, so exactly-once delivery is unaffected. */
  def foreachBatchAnnIndexMaintain(
      versions: DataFrame,
      base: java.nio.file.Path,
      indexDir: java.nio.file.Path,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trigger: Trigger = Trigger.AvailableNow(),
      rebootstrapAt: Option[Double] = None): DataStreamWriter[Row] = {
    import graft.ops.{AnnIndex, Cdc, Storage}
    val codes = indexDir.resolve("codes")
    Storage.repairOrphans(codes) // single-writer startup contract
    val Marker = "_APPLIED_V"
    versions.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // a batch holds a handful of version EVENTS — driver-sized
        val evs = batch.select(col("v").cast("long")).collect().map(_.getLong(0))
        if (evs.nonEmpty) {
          val v = evs.max
          val applied = Storage.currentVersion(codes).flatMap { cv =>
            val f = codes.resolve(s"v$cv").resolve(Marker)
            if (java.nio.file.Files.exists(f))
              Some(new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong)
            else None
          }
          val marker = Map(Marker -> v.toString)
          def rebuild(): Unit = {
            AnnIndex.rebuild(spark, indexDir,
              Storage.readPartitionedVersionAt(spark, base, v)
                .select(col(idCol), col(vecCol)),
              marker, idCol, vecCol)
            ()
          }
          def feedStep(a: Long): Unit = {
            val cdf = Cdc.changeDataFeed(spark, base, a, v,
              pk = Seq(idCol), compareCols = Seq(vecCol), preImages = true)
              .localCheckpoint() // one feed computation serves both splits
            val ups = cdf.filter(col("change_type").isin("insert", "update_postimage"))
              .select(col(idCol), col(vecCol))
            val dels = cdf.filter(col("change_type").isin("delete", "update_preimage"))
              .select(col(idCol), col(vecCol))
            AnnIndex.applyDelta(spark, indexDir, ups, dels, marker, idCol, vecCol)
            ()
          }
          val advanced = applied match {
            case Some(a) if v <= a => false // duplicate delivery: already applied
            case _ if !Storage.partitionManifestRetained(base, v) =>
              false // stale backlog: v vacuumed, a later delivery supersedes
            case Some(a) if Storage.partitionManifestRetained(base, a) =>
              // the retained check races the producer's vacuum — fall back
              // to the re-bootstrap instead of failing the micro-batch,
              // but ONLY when the race actually happened (a's manifest is
              // gone by the time the feed read it): any other
              // IllegalArgumentException is a genuine caller-contract bug
              // (reserved-column collision, bad pk/compareCols) and must
              // surface, not hide as a rebuild-every-batch performance
              // cliff (ADVICE r11)
              try feedStep(a)
              catch {
                case e: IllegalArgumentException =>
                  if (Storage.partitionManifestRetained(base, a)) throw e
                  else rebuild()
              }
              true
            case Some(_) => rebuild(); true // lagged past retention
            case None => rebuild(); true    // first delivery: bootstrap
          }
          // drift guard AFTER a delta actually applied (v is readable
          // then): the check is a no-op unless armed; the retrain
          // re-commits under the same marker, so a crash straddling it
          // re-runs idempotently
          if (advanced) rebootstrapAt.foreach { th =>
            if (AnnIndex.driftFraction(spark, indexDir) > th)
              AnnIndex.retrainBootstrap(spark, indexDir,
                Storage.readPartitionedVersionAt(spark, base, v)
                  .select(col(idCol), col(vecCol)),
                extraFiles = marker, idCol = idCol, vecCol = vecCol)
          }
        }
        ()
      }
  }

  /** Continuous maintenance of the persisted CROSS-CORPUS DEDUP INDEX
    * ([[graft.ops.DedupIndex]]) from its base corpus table's commit-log
    * tail — the [[foreachBatchAnnIndexMaintain]] shape for dedup: each
    * micro-batch folds the interval's changes into the fingerprint +
    * shingle-posting tables, all bucket-pruned. The feed carries
    * PRE-IMAGES, so every change kind maintains incrementally (round 18 —
    * previously only inserts did and anything else failed the batch):
    * pre-image rows (deletes, update pre-images) leave via
    * [[graft.ops.DedupIndex.takedown]] — the pre-image TEXT names the
    * exact buckets holding the doc's rows — and post-image rows land via
    * [[graft.ops.DedupIndex.append]]; a text update is exactly
    * takedown(old) + append(new), so a stale fingerprint can never pass
    * a future duplicate of text that left the corpus.
    *
    * Delivery contract: both halves are idempotent per doc, so
    * at-least-once delivery is effectively exactly-once; the
    * applied-version marker rides the APPEND half's commit (the second),
    * so a crash between the halves redelivers the whole window — the
    * re-run takedown is a no-op on state. Lagging past base retention
    * (or the first delivery) self-heals with a full bootstrap from the
    * snapshot at the delivered version (`nBuckets` sizes that path). */
  def foreachBatchDedupIndexMaintain(
      versions: DataFrame,
      base: java.nio.file.Path,
      indexDir: java.nio.file.Path,
      n: Int = 3,
      nBuckets: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    import graft.ops.{Cdc, DedupIndex, Storage}
    val fp = indexDir.resolve("fp")
    Storage.repairOrphans(fp) // single-writer startup contract
    Storage.repairOrphans(indexDir.resolve("shingles"))
    val Marker = "_APPLIED_V"
    versions.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val evs = batch.select(col("v").cast("long")).collect().map(_.getLong(0))
        if (evs.nonEmpty) {
          val v = evs.max
          val applied = Storage.currentVersion(fp).flatMap { cv =>
            val f = fp.resolve(s"v$cv").resolve(Marker)
            if (java.nio.file.Files.exists(f))
              scala.util.Try(new String(java.nio.file.Files.readAllBytes(f),
                "UTF-8").trim.toLong).toOption // corrupt marker → rebuild
            else None
          }
          val marker = Map(Marker -> v.toString)
          def rebuild(): Unit =
            DedupIndex.bootstrap(indexDir,
              Storage.readPartitionedVersionAt(spark, base, v)
                .select(col(idCol), col(textCol)),
              n, nBuckets, marker, idCol, textCol)
          def feedStep(a: Long): Unit = {
            val cdf = Cdc.changeDataFeed(spark, base, a, v,
              pk = Seq(idCol), compareCols = Seq(textCol), preImages = true)
              .localCheckpoint()
            // pre-images leave FIRST and carry no marker: a crash between
            // the halves redelivers the window, and the re-run takedown
            // is a state no-op; the append half (which also runs for a
            // delete-only window, committing the marker via its empty
            // path) is what advances the applied version
            val removed = cdf
              .filter(col("change_type").isin("delete", "update_preimage"))
              .select(col(idCol), col(textCol))
            if (!removed.isEmpty)
              DedupIndex.takedown(spark, indexDir, removed, n,
                Map.empty, idCol, textCol)
            DedupIndex.append(spark, indexDir,
              cdf.filter(col("change_type").isin("insert", "update_postimage"))
                .select(col(idCol), col(textCol)), n, marker, idCol, textCol)
            ()
          }
          applied match {
            case Some(a) if v <= a => () // duplicate delivery: skip (idempotent anyway)
            case _ if !Storage.partitionManifestRetained(base, v) =>
              () // stale backlog: superseded by a later delivery
            case Some(a) if Storage.partitionManifestRetained(base, a) =>
              // same narrow retention-race fallback as the ANN maintainer
              try feedStep(a)
              catch {
                case e: IllegalArgumentException =>
                  if (Storage.partitionManifestRetained(base, a)) throw e
                  else rebuild()
              }
            case Some(_) => rebuild() // lagged past retention
            case None => rebuild()    // first delivery: bootstrap
          }
        }
        ()
      }
  }

  /** Parquet-backed SCD2 dimension for streaming merges. */
  final class Scd2Table(
      spark: SparkSession,
      bk: String,
      tracked: Seq[String],
      dir: java.nio.file.Path) {

    private val table = dir.resolve("dim")
    // single-writer startup recovery (Storage CAS contract): clear any
    // promoted-but-unpointed orphan a crashed run left, before first commit
    graft.ops.Storage.repairOrphans(table)

    // versioned commit log, not directory swap: a batch job reading the
    // dimension DURING a streaming merge keeps its resolved snapshot
    // (Storage.commitVersion scale notes) — a directory swap's window
    // would 404 it. keepVersions below sizes the retention to how many
    // MICRO-BATCHES may commit while a concurrent batch scan is still
    // running — at default 1 a long scan would be vacuumed out after two
    // merges; 8 commits of retention is cheap (dims are small next to
    // facts) and covers realistic scan-vs-trigger ratios
    def snapshot: DataFrame =
      graft.ops.Storage.readVersionOr(spark, table, {
        import org.apache.spark.sql.types._
        val schema = StructType(
          StructField(bk, LongType) +:
            tracked.map(c => StructField(c, StringType)) :+
            StructField("sk", LongType) :+
            StructField("valid_from", TimestampType) :+
            StructField("valid_to", TimestampType) :+
            StructField("is_current", BooleanType))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      })

    def merge(stg: DataFrame, bkCol: String, trackedCols: Seq[String],
        runTs: org.apache.spark.sql.Column): Unit = synchronized {
      val next = Scd2.closeAndInsert(snapshot, stg, bkCol, trackedCols, runTs, "sk")
      graft.ops.Storage.commitVersion(next, table, keepVersions = 8,
        fileStats = false) // per-micro-batch stats are wasted on a hot dim
    }
  }

  /** Parquet-backed target table for the streaming upsert: each micro-batch
    * computes the merged next state and commits it as a new version
    * ([[graft.ops.Storage.commitVersion]]) — fully distributed, nothing
    * collects to the driver. Production form: a Delta table + MERGE. */
  final class StreamingTableState(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      dir: java.nio.file.Path) {

    private val table = dir.resolve("state")
    graft.ops.Storage.repairOrphans(table) // same startup contract as Scd2Table

    def snapshot: DataFrame =
      graft.ops.Storage.readVersionOr(spark, table,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

    def merge(batch: DataFrame, pk: Seq[String], tracked: Seq[String],
        runTs: org.apache.spark.sql.Column): Unit = synchronized {
      val cols = schema.fieldNames.toSeq
      val next = MergeOps.conditionalUpsert(
        snapshot, batch.select(cols.map(col): _*), pk, tracked, runTs)
      graft.ops.Storage.commitVersion(next.select(cols.map(col): _*), table,
        fileStats = false) // per-micro-batch stats are wasted on a hot table
    }
  }
}
