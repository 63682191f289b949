package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Upsert / merge machinery (SURVEY.md §2.7) on immutable columnar storage.
  *
  * The reference mutates Postgres heap tables row-at-a-time
  * (`ON CONFLICT DO UPDATE/NOTHING`); on Spark the same semantics are
  * whole-relation set operations that produce the table's next state in one
  * shuffle-minimal pass, then replace it atomically (write-temp-then-swap, or
  * a Delta MERGE on a real deployment).
  *
  * Scale notes (100 TB design point):
  *  - [[insertIfAbsent]] is one `left_anti` join on the PK — shuffle-on-PK
  *    both sides, or broadcast when `incoming` is a small increment.
  *  - [[conditionalUpsert]] is one full-outer join on the PK. Both sides
  *    shuffle-partition on the PK; with bucketed storage on the PK the
  *    exchange disappears entirely.
  *  - Neither collects to the driver; both are a single wide stage.
  */
object MergeOps {

  /** M2: `INSERT ... ON CONFLICT DO NOTHING` — append rows whose PK is not
    * already present (ref: stg_character.py:171, dwh_fact_character_episode.py:110).
    * Incoming dups collapse to one row per PK. With `tieBreak` given, the row
    * MAXIMAL by those columns wins ([[latestByKey]] — deterministic across
    * runs/partitionings, per the engine's oracle-determinism convention);
    * without, `dropDuplicates` keeps a partition-order-dependent arbitrary
    * row, so callers must pre-dedupe deterministically themselves. */
  def insertIfAbsent(
      existing: DataFrame,
      incoming: DataFrame,
      pk: Seq[String],
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val one =
      if (tieBreak.nonEmpty) latestByKey(incoming, pk, tieBreak)
      else incoming.dropDuplicates(pk)
    existing.unionByName(one.join(existing, pk, "left_anti").select(existing.columns.map(col): _*))
  }

  /** M1: conditional upsert — `ON CONFLICT (pk) DO UPDATE SET ... WHERE any
    * tracked attr IS DISTINCT FROM EXCLUDED` (ref: stg_character.py:65-81).
    *
    * Semantics preserved exactly:
    *  - absent PK        → insert (loaded_at = runTs, lastUpd = runTs)
    *  - present, changed → take incoming attrs, KEEP old loaded_at, bump lastUpd
    *  - present, same    → old row untouched (lastUpd NOT bumped)
    *
    * `old` and `incoming` must share the schema: pk ++ tracked ++
    * (loadedAtCol, lastUpdCol). Incoming audit columns are ignored; they are
    * re-derived here so re-runs are idempotent.
    *
    * Duplicate-PK incoming rows: with `tieBreak` given, the maximal row by
    * those columns wins (deterministic); without, callers must pre-dedupe
    * deterministically (`dropDuplicates` keeps an arbitrary row).
    */
  def conditionalUpsert(
      old: DataFrame,
      incoming: DataFrame,
      pk: Seq[String],
      tracked: Seq[String],
      runTs: Column,
      loadedAtCol: String = "loaded_at",
      lastUpdCol: String = "last_upd_at",
      tieBreak: Seq[Column] = Nil): DataFrame = {

    val incomingOne =
      if (tieBreak.nonEmpty) latestByKey(incoming, pk, tieBreak)
      else incoming.dropDuplicates(pk)
    // presence markers, NOT key-nullness: the join is null-safe (<=>), so
    // a NULL PK is a legitimate matchable key — reading `o.pk IS NULL` as
    // "absent from old" would re-insert the NULL-key row every run,
    // resetting loaded_at and bumping last_upd_at with no actual change
    val o = old.withColumn("__in_old", lit(true)).alias("o")
    val n = incomingOne.withColumn("__in_new", lit(true)).alias("n")
    val joined = o.join(n, pk.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _), "full_outer")

    val oldAbsent = col("o.__in_old").isNull
    val newAbsent = col("n.__in_new").isNull
    val changed = Extract.anyChanged(tracked.map(c => (col(s"o.$c"), col(s"n.$c"))))

    val keyCols = pk.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k))
    val attrCols = tracked.map { c =>
      when(oldAbsent || (!newAbsent && changed), col(s"n.$c")).otherwise(col(s"o.$c")).as(c)
    }
    val loadedAt = when(oldAbsent, runTs).otherwise(col(s"o.$loadedAtCol")).as(loadedAtCol)
    val lastUpd = when(oldAbsent || (!newAbsent && changed), runTs)
      .otherwise(col(s"o.$lastUpdCol")).as(lastUpdCol)

    joined.select(keyCols ++ attrCols ++ Seq(loadedAt, lastUpd): _*)
  }

  /** THE bucketing contract of every pruned-write path (`pbucket` column,
    * xxhash64 over the PK, `pbucket=<n>` partition dirs) — one definition
    * shared by [[prunedConditionalUpsert]], [[Scd2.prunedCloseAndInsert]],
    * and their specs, because readers match partition-dir NAMES: a
    * divergent copy would silently read the wrong buckets. */
  private[graft] def pkBucket(pk: Seq[String], nParts: Int): Column =
    pmod(xxhash64(pk.map(col): _*), lit(nParts)).cast("int")

  /** The `pbucket=<n>` partition-dir names `df`'s PKs hash into —
    * O(nParts) driver rows, never data. */
  private[graft] def affectedBuckets(df: DataFrame, pk: Seq[String], nParts: Int): Set[String] =
    Prof.time("mergeOps.affectedBuckets")(
      df.select(pkBucket(pk, nParts).as("pbucket")).distinct()
        .collect().map(r => s"pbucket=${r.getInt(0)}").toSet)

  /** Whether an increment frame is cheap to RE-evaluate: every leaf is an
    * already-materialized relation or a plain file scan and nothing above
    * them implies a shuffle or heavy per-row compute (join, aggregate,
    * window, dedup, sort). Pruned writers consume their increment up to
    * three times (bucket probe, change probe, merge write); an expensive
    * increment is pinned once instead — see prunedConditionalUpsert. */
  private[graft] def cheapToRecompute(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    var cheap = true
    df.queryExecution.logical.foreach {
      case _: Join | _: Aggregate | _: Window | _: Sort | _: Distinct
          | _: Deduplicate | _: RepartitionOperation | _: Generate => cheap = false
      case _ => ()
    }
    cheap
  }

  /** M1 at the 100 TB design point: [[conditionalUpsert]] composed with
    * [[Storage.commitPartitions]] so an incremental load rewrites ONLY the
    * PK-hash partitions whose rows actually CHANGE — the reference's
    * `ON CONFLICT … DO UPDATE WHERE <attr IS DISTINCT>` touching-only-
    * changed-rows semantics (stg_character.py:65-81) restored at scale:
    * write amplification is O(changed partitions), not O(table), and an
    * idempotent re-delivery rewrites zero.
    *
    * The table lives at `table` as a partition-manifested commit log,
    * bucketed by `pbucket = pmod(xxhash64(pk), nParts)`. Per load:
    *   1. the increment's distinct buckets are collected — O(nParts)
    *      driver rows, the only driver-side data — and read back
    *      (manifest-pruned; other buckets are never listed);
    *   2. the deduped increment probes those buckets' stored rows for
    *      genuinely new/changed keys (null-safe PK match);
    *   3. [[conditionalUpsert]] produces the CHANGED buckets' next state;
    *   4. [[Storage.commitPartitions]] commits it, carrying every
    *      untouched bucket forward by reference, bytes unmoved.
    *
    * `nParts` is fixed at table creation (it's the on-disk layout).
    * `keepVersions` sizes the change-feed tail: a downstream consumer
    * ([[Cdc.changeDataFeed]], the streaming view maintenance) can only
    * diff against versions whose manifests survive vacuum — set it to
    * the worst consumer lag in commits. Returns the committed version. */
  def prunedConditionalUpsert(
      table: java.nio.file.Path,
      incoming: DataFrame,
      pk: Seq[String],
      tracked: Seq[String],
      runTs: Column,
      nParts: Int = 64,
      loadedAtCol: String = "loaded_at",
      lastUpdCol: String = "last_upd_at",
      tieBreak: Seq[Column] = Nil,
      fileStats: Boolean = true,
      keepVersions: Int = 1): Long = {
    val spark = incoming.sparkSession
    Storage.validateGeometry(table, nParts) // wrong nParts = wrong buckets read
    val bucket = pkBucket(pk, nParts)

    if (Storage.currentVersion(table).isEmpty) { // bootstrap: full load
      val emptyOld = incoming
        .withColumn(loadedAtCol, runTs).withColumn(lastUpdCol, runTs)
        .select((pk ++ tracked).map(col) ++ Seq(col(loadedAtCol), col(lastUpdCol)): _*)
        .limit(0)
      val next = conditionalUpsert(emptyOld, incoming, pk, tracked, runTs,
        loadedAtCol, lastUpdCol, tieBreak)
      return Storage.commitPartitions(next.withColumn("pbucket", bucket), table,
        "pbucket", keepVersions = keepVersions, fileStats = fileStats)
    }

    // prune by CHANGE, not by presence: an incoming row equal to its
    // stored row must not force its bucket to rewrite (the reference's
    // ON CONFLICT DO UPDATE ... WHERE <attr IS DISTINCT> touches only
    // changed rows; an idempotent re-delivery rewrites ZERO buckets).
    // The comparison runs only over the candidate buckets already read.
    //
    // READ-SNAPSHOT OCC: pin ONE version and read everything (probe and
    // merge input) AS OF it, then tell commitPartitions that pin. Without
    // the pin, a winner landing between the probe and the commit's
    // base-resolution makes this commit's first rename target the NEXT
    // slot, succeed, and silently revert the winner's rows (the lost
    // update the same-bucket race test caught under host contention — two
    // separate current-reads here could even straddle the winner and
    // disagree with EACH OTHER). A winner touching a candidate bucket we
    // did not rewrite voids the change-probe verdicts → StaleReadException
    // → recompute from the new version (bounded by retryStale).
    //
    // The deduped increment is MATERIALIZED once (localCheckpoint) before
    // any probe WHEN re-evaluation is expensive: the bucket probe, the
    // changed-key probe, and the merge write each consume it, and without
    // the pin the whole upstream increment pipeline re-executes per
    // consumer — three full passes for one load. The increment is Δ-sized
    // by the pruned-path contract (a bulk initial load takes the bootstrap
    // branch above), so the materialization is bounded by the delta, never
    // the table. An increment that is ALREADY cheap to re-evaluate (a
    // materialized micro-batch, a straight scan + projection — no shuffle
    // or join upstream) skips the pin: measured, the extra materialization
    // job costs more than the re-evaluations it saves. Hoisted OUTSIDE the
    // OCC retry loop: the increment derives from the feed alone, not from
    // table state, so a retry must re-read the TABLE, not re-evaluate it.
    val pin = !cheapToRecompute(incoming)
    val one0 =
      if (tieBreak.nonEmpty) latestByKey(incoming, pk, tieBreak)
      else incoming.dropDuplicates(pk)
    val one = if (pin) one0.localCheckpoint() else one0
    // the bucket probe needs only the increment's DISTINCT buckets — on
    // the unpinned path, probing the raw increment skips the dedup shuffle
    val probeSrc = if (pin) one else incoming
    Storage.retryStale(table) {
    val readV = Storage.currentVersion(table).get
    val candidate = affectedBuckets(probeSrc, pk, nParts)
    // OPERATOR-level schema evolution: the feed may ADD tracked columns
    // mid-stream. The commit layer already declares appended columns, but
    // on the FIRST evolving load the stored read predates the column
    // entirely — null-fill it here (typed from the incoming schema) so the
    // change probe and the merge see both generations aligned. A stored
    // null vs an incoming value IS a change, so keys the evolving load
    // carries get their new column materialized; buckets it does not touch
    // keep carrying by reference and read null until their next rewrite.
    def aligned(stored: DataFrame): DataFrame = {
      val have = stored.columns.toSet
      incoming.schema.filterNot(f => have.contains(f.name))
        .foldLeft(stored)((df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    val old = aligned(
      Storage.readPartitionedVersionAt(spark, table, readV, Some(candidate))
        .drop("pbucket"))
    // null-safe PK match (a NULL PK is a key like any other — MergeSpec),
    // with an explicit marker because a matched null-key row would fool a
    // pk-is-null unmatched test
    val changedKeys = one.alias("i")
      .join(old.withColumn("__matched", lit(true)).alias("o"),
        pk.map(k => col(s"i.$k") <=> col(s"o.$k")).reduce(_ && _), "left")
      .filter(col("o.__matched").isNull ||
        Extract.anyChanged(tracked.map(x => (col(s"o.$x"), col(s"i.$x")))))
      .select(pk.map(k => col(s"i.$k").as(k)): _*)
    val affected = affectedBuckets(changedKeys, pk, nParts)
    if (affected.isEmpty) { // nothing changed: everything carries by reference
      // the "nothing changed" verdict is itself a stale-able read: a winner
      // changing a candidate bucket's rows could make our increment newly
      // different — staleOn turns that into a retry, not a lost update
      Storage.commitPartitions(
        old.limit(0).withColumn("pbucket", bucket), table, "pbucket",
        keepVersions = keepVersions, fileStats = fileStats,
        readBase = Some(readV), staleOn = candidate)
    } else {
    val oldAffected = aligned(
      Storage.readPartitionedVersionAt(spark, table, readV, Some(affected))
        .drop("pbucket"))
    val affectedIds = affected.map(_.stripPrefix("pbucket=").toInt).toSeq
    // merge the SAME deduped rows the pruning decision saw — re-deduping
    // the raw incoming could pick a DIFFERENT duplicate than the one the
    // changed-key probe judged, silently skipping (or spuriously
    // rewriting) an update
    val next = conditionalUpsert(
      oldAffected, one.filter(bucket.isin(affectedIds: _*)),
      pk, tracked, runTs, loadedAtCol, lastUpdCol, tieBreak)
    // OVERLAPPING concurrent loads rebase instead of aborting: the merge
    // is per-key, so re-running it for just the conflicting buckets on the
    // winner's committed state is the serial outcome (loser's merge
    // strictly after the winner's) — the reference's parallel dimension
    // DAGs landing on a shared table
    val rebase = new Storage.OverlapResolver {
      def recompute(sp: org.apache.spark.sql.SparkSession, t: java.nio.file.Path,
          newBase: Long, conflicting: Set[String]): DataFrame = {
        val ids = conflicting.map(_.stripPrefix("pbucket=").toInt).toSeq
        val cur = aligned(
          Storage.readPartitionedVersionAt(sp, t, newBase, Some(conflicting))
            .drop("pbucket"))
        // pin the increment's rows ONCE (localCheckpoint) and prove them
        // non-empty before merging: `conflicting` ⊆ this load's written
        // buckets, which exist only because changedKeys hit them — so an
        // empty re-evaluation here can only be a lazy-re-evaluation
        // anomaly, and merging it would commit the WINNER'S STATE VERBATIM
        // as the loser's "rebase", silently losing the loser's update.
        // Loud beats lost.
        val inc = one.filter(bucket.isin(ids: _*)).localCheckpoint()
        require(!inc.isEmpty,
          s"rebase increment for ${conflicting.mkString(",")} evaluated empty — " +
            "refusing to commit a lost update; rerun this load")
        conditionalUpsert(cur, inc,
          pk, tracked, runTs, loadedAtCol, lastUpdCol, tieBreak)
          .withColumn("pbucket", bucket)
      }
    }
    Storage.commitPartitions(next.withColumn("pbucket", bucket), table, "pbucket",
      keepVersions = keepVersions, fileStats = fileStats, onOverlap = Some(rebase),
      readBase = Some(readV), staleOn = candidate)
    }
    }
  }

  /** Row-level DELETE at the 100 TB design point — the takedown/GDPR shape
    * a training-data store cannot avoid: remove the named keys, touching
    * ONLY the PK-hash buckets that contain them. Survivor buckets rewrite
    * without the doomed rows; buckets left EMPTY are dropped explicitly
    * through `dropParts` (an empty rewrite writes no partition dir, so
    * without the explicit drop their old bytes would stay live — the
    * [[Storage.commitPartitions]] contract). Untouched buckets carry by
    * manifest reference, bytes unmoved. Downstream consumers see the
    * removals as ordinary `delete` rows in [[Cdc.changeDataFeed]].
    *
    * `doomed` needs only the `pk` columns (extra columns are ignored);
    * keys absent from the table are no-ops, and a table with no committed
    * version returns -1 without committing (nothing exists to delete).
    * Returns the committed version.
    *
    * COMPLIANCE NOTE: this removes the rows from the CURRENT state only —
    * retained versions (the table's retention window) keep serving them
    * through time travel and the change feed until vacuum passes them.
    * A hard takedown is this delete followed by
    * [[Storage.purgeHistory]], which drops retention and sweeps every
    * pre-delete version's bytes. */
  def prunedDelete(
      table: java.nio.file.Path,
      doomed: DataFrame,
      pk: Seq[String],
      nParts: Int = 64,
      keepVersions: Int = 1): Long = {
    if (Storage.currentVersion(table).isEmpty) return -1L
    val spark = doomed.sparkSession
    Storage.validateGeometry(table, nParts) // wrong nParts = wrong buckets read
    // the doomed-key set is consumed by the bucket probe, the bookkeeping
    // join and the survivor anti-join — materialize it once (k-row by the
    // takedown contract) instead of re-running the caller's pipeline per
    // consumer; hoisted outside the OCC retry (it derives from the feed,
    // not table state)
    val keys0 = {
      val k = doomed.select(pk.map(col): _*).dropDuplicates(pk)
      if (cheapToRecompute(doomed)) k else k.localCheckpoint()
    }
    // read-snapshot OCC: counts/wiped/survivors all derive from ONE pinned
    // version; a winner touching any candidate bucket before we land voids
    // those verdicts → StaleReadException → recompute (retryStale)
    Storage.retryStale(table) {
    val readV = Storage.currentVersion(table).get
    val candidate = affectedBuckets(keys0, pk, nParts)
    val old = Storage.readPartitionedVersionAt(spark, table, readV, Some(candidate))
    // null-safe joins: a NULL PK is a key like any other (MergeSpec)
    val keys = keys0.alias("k")
    def matchCond = pk.map(c => col(s"o.$c") <=> col(s"k.$c")).reduce(_ && _)
    // ONE pass over the candidate buckets decides all the bookkeeping:
    // per-bucket (total, doomed) counts → buckets that LOSE a row rewrite
    // (deleting absent keys rewrites zero, the upsert's change-pruning
    // contract), buckets losing EVERY row drop explicitly. O(nParts)
    // driver rows, never data. PK uniqueness means the left join cannot
    // fan out.
    val counts = old.alias("o")
      .join(keys.withColumn("__doomed", lit(true)), matchCond, "left")
      .groupBy(col("o.pbucket"))
      .agg(count(lit(1)).as("total"), count(col("__doomed")).as("hits"))
      .filter(col("hits") > 0)
      .select(col("pbucket"), (col("hits") === col("total")).as("wiped"))
      .collect().map(r => (r.getInt(0), r.getBoolean(1)))
    if (counts.isEmpty) // nothing stored matches: everything carries by reference
      Storage.commitPartitions(old.limit(0), table, "pbucket",
        keepVersions = keepVersions, readBase = Some(readV), staleOn = candidate)
    else {
      val wiped = counts.collect { case (b, true) => s"pbucket=$b" }.toSet
      val rewriteIds = counts.collect { case (b, false) => b }.toSeq
      val survivors = old.filter(col("pbucket").isin(rewriteIds: _*)).alias("o")
        .join(keys, matchCond, "left_anti")
      Storage.commitPartitions(survivors, table, "pbucket",
        keepVersions = keepVersions, dropParts = wiped,
        readBase = Some(readV), staleOn = candidate)
    }
    }
  }

  /** [[prunedDelete]]'s takedown with MERGE-ON-READ deletion vectors (the
    * Delta/Iceberg DV shape): instead of rewriting every bucket that loses
    * a row, commit an O(k) `_DV.json` sidecar naming the doomed rows'
    * (file, row-index) coordinates. Every read of the version — upserts,
    * CDF snapshots, time travel — subtracts them via a broadcast anti-join
    * inside [[Storage.readPartitionedVersionAt]], so the rows vanish
    * table-wide with ZERO data files rewritten: a k-row GDPR takedown
    * costs one pruned coordinate-locating scan plus one metadata commit,
    * not O(hit buckets) of data writes.
    *
    * The k coordinates are collected to the driver — this is the
    * takedown-scale path (k ≪ table); a bulk delete should keep using
    * [[prunedDelete]], which rewrites. Tombstones ride along carried
    * buckets until [[compactDeletionVectors]] (or any organic rewrite of
    * the bucket) materializes them; external engines see the SAME deletes
    * meanwhile through the `add.deletionVector` descriptors the commit
    * writes into both Delta logs ([[graft.ops.DeltaDv]]). Same no-op
    * contract as prunedDelete: absent keys tombstone nothing, a table
    * with no committed version returns -1. Returns the committed
    * version. */
  def deleteWithVectors(
      table: java.nio.file.Path,
      doomed: DataFrame,
      pk: Seq[String],
      nParts: Int = 64,
      keepVersions: Int = 1): Long = {
    if (Storage.currentVersion(table).isEmpty) return -1L
    val spark = doomed.sparkSession
    Storage.validateGeometry(table, nParts)
    // read-snapshot OCC: the (file, row-index) coordinates are only valid
    // against the version they were located in — a winner rewriting (or
    // further tombstoning) a candidate bucket before we land would make
    // them stale → StaleReadException → relocate against the new version
    // same one-materialization discipline as prunedDelete: the k-row key
    // set feeds the bucket probe and the coordinate-locating semi-join
    val keys0 = {
      val k = doomed.select(pk.map(col): _*).dropDuplicates(pk)
      if (cheapToRecompute(doomed)) k else k.localCheckpoint()
    }
    Storage.retryStale(table) {
    val readV = Storage.currentVersion(table).get
    val candidate = affectedBuckets(keys0, pk, nParts)
    val lineage = Storage.readPartitionedLineage(spark, table, Some(candidate),
      at = Some(readV)).alias("o")
    val keys = keys0.alias("k")
    val matchCond = pk.map(c => col(s"o.$c") <=> col(s"k.$c")).reduce(_ && _)
    val hits = lineage.join(keys, matchCond, "left_semi")
      .select(col("__dv_file"), col("__dv_pos")).collect()
    // __dv_file is already the sidecar's table-relative `v<ver>/<part>/
    // <file>` form (Storage.readPartitionedAt0) — no path relativize, so
    // a table root with URI-encodable characters cannot mis-resolve
    val dv = hits.groupBy(_.getString(0)).map { case (rel, rows) =>
      rel -> rows.map(_.getLong(1)).toSeq.sorted
    }.toMap
    // empty delta frame: every bucket carries by reference; the commit is
    // the sidecar + manifest + log — the whole point
    Storage.commitPartitions(
      Storage.readPartitionedVersionAt(spark, table, readV).limit(0), table, "pbucket",
      keepVersions = keepVersions, deletionVector = dv,
      readBase = Some(readV), staleOn = candidate)
    }
  }

  /** Materialize a table's deletion vectors: rewrite ONLY the tombstoned
    * buckets (the DV-applying read path hands back post-delete rows),
    * dropping buckets whose every row is tombstoned, so the committed DV
    * empties and external raw-file readers see post-delete bytes again.
    * O(tombstoned buckets) data writes — scheduled maintenance, like
    * [[Storage.compact]]. No-op (returns the current version) without a
    * DV. */
  def compactDeletionVectors(
      spark: SparkSession,
      table: java.nio.file.Path,
      keepVersions: Int = 1): Long = {
    val cur = Storage.currentVersion(table).getOrElse(return -1L)
    val dv = Storage.deletionVector(table)
    if (dv.isEmpty) return cur
    val buckets = dv.keys.flatMap(Storage.dvBucketOf).toSet
    val rows = Storage.readPartitionedVersion(spark, table, Some(buckets))
    // a fully-tombstoned bucket writes no dir — name it dropped explicitly
    // (the commitPartitions empty-rewrite contract)
    val live = rows.select(col("pbucket")).distinct()
      .collect().map(r => s"pbucket=${r.get(0)}").toSet
    val landed = Storage.commitPartitions(rows, table, "pbucket",
      keepVersions = keepVersions, dropParts = buckets -- live)
    // the DV-applying read handed back exactly the predecessor's visible
    // rows, so if no writer interleaved the new state is VISIBLY identical
    // to `cur` — record it (same contract as Storage.compact's marker:
    // written post-commit, absence is always safe) and change feeds across
    // this maintenance commit stay metadata-only
    if (landed == cur + 1)
      java.nio.file.Files.write(
        table.resolve(s"v$landed").resolve(Storage.StateIdenticalMarker),
        cur.toString.getBytes("UTF-8"))
    landed
  }

  /** S3: last-writer-wins keyed snapshot (ref: extract_api_operator.py:36-43,
    * ON CONFLICT DO UPDATE). Keeps, per PK, the row that sorts LAST by
    * `versionCols`.
    *
    * Implemented as `max_by(struct(row), struct(version))` — a plain
    * aggregate with MAP-SIDE COMBINE: each input partition reduces to at
    * most one candidate per key before the shuffle, so a skewed key costs
    * O(partitions), not O(rows-for-that-key). The window/row_number
    * formulation shuffles every row and sorts within keys; on a hot key at
    * 100 TB that is the difference between working and not.
    *
    * `versionCols` must form a total order per key (include a unique
    * tie-break) — otherwise max_by picks an arbitrary maximal row. */
  def latestByKey(df: DataFrame, pk: Seq[String], versionCols: Seq[Column]): DataFrame = {
    val dataCols = df.columns.filterNot(pk.contains).toSeq
    latestSnapshots(df, pk, versionCols, Seq("__row" -> lit(true)))
      .select(pk.map(col) ++ dataCols.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** SEVERAL latest-per-key snapshots in ONE map-side-combinable pass:
    * for each (name, include) the latest row — by `versionCols`, same
    * total-order contract as [[latestByKey]] — among the rows where
    * `include` holds (`max_by` skips rows whose ordering is NULL, which
    * is what the `when` produces for excluded rows). Output: pk ++ one
    * STRUCT column of the data cols per snapshot, NULL when a key has no
    * qualifying row. The point is the single shuffle: an incremental
    * fixture needing "state as of the cutoff" AND "current state" scans
    * and shuffles the log once, not once per snapshot. */
  def latestSnapshots(
      df: DataFrame,
      pk: Seq[String],
      versionCols: Seq[Column],
      snapshots: Seq[(String, Column)]): DataFrame = {
    require(snapshots.nonEmpty, "at least one snapshot predicate required")
    val dataCols = df.columns.filterNot(pk.contains).toSeq
    val aggs = snapshots.map { case (name, include) =>
      max_by(struct(dataCols.map(col): _*),
        when(include, struct(versionCols: _*))).as(name)
    }
    df.groupBy(pk.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
