package graft

import java.nio.file.Files

import graft.ops.{Cdc, DeltaInterop, MergeOps, Storage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read deletes ([[MergeOps.deleteWithVectors]]): a k-row takedown
  * commits O(k) `add.deletionVector` descriptors in the version's Delta log
  * instead of rewriting every hit bucket. The contracts proven here:
  *   - the DV commit rewrites ZERO data files (its version dir holds no
  *     partition dirs — metadata only);
  *   - every read path subtracts the tombstones (current read, time
  *     travel, the change feed — whose manifest-diff pruning alone would
  *     MISS a DV-only commit);
  *   - tombstones merge across DV commits, shed when their bucket is
  *     organically rewritten, and [[MergeOps.compactDeletionVectors]]
  *     materializes the remainder back to clean bytes, state-identically;
  *   - a fully-tombstoned bucket reads empty and compacts to an explicit
  *     manifest drop.
  */
class DeletionVectorSpec extends SparkTestBase {

  private val RunTs = "2024-01-01 00:00:00"

  private def loadNation(table: java.nio.file.Path, df: DataFrame, keep: Int = 8): Long =
    MergeOps.prunedConditionalUpsert(table,
      df.withColumn("loaded_at", lit(null).cast("timestamp"))
        .withColumn("last_upd_at", lit(null).cast("timestamp")),
      pk = Seq("n_nationkey"), tracked = Seq("n_name", "n_regionkey"),
      runTs = lit(RunTs).cast("timestamp"), nParts = 4, keepVersions = keep)

  private def nation: DataFrame =
    Tables.nation(spark, Sf001).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))

  private def stateKeys(table: java.nio.file.Path): Set[Long] =
    Storage.readPartitionedVersion(spark, table)
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet

  private def partDirs(vdir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(vdir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(_.startsWith("pbucket=")).toSeq
    finally s.close()
  }

  test("DV delete: zero data rewrites; reads, time travel and CDF all see it") {
    val table = Files.createTempDirectory("dv1").resolve("t")
    val v0 = loadNation(table, nation)
    val all = nation.select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet

    val doomed = nation.select(col("n_nationkey")).filter(col("n_nationkey") % 5 === 0)
    val doomedKeys = all.filter(_ % 5 == 0)
    val vd = MergeOps.deleteWithVectors(table, doomed, pk = Seq("n_nationkey"),
      nParts = 4, keepVersions = 8)
    assert(vd == v0 + 1)

    // the commit is metadata-only: no partition dir was written
    assert(partDirs(table.resolve(s"v$vd")).isEmpty,
      "a DV commit must rewrite zero data files")
    // the tombstones live on the hit files' adds in the version's log
    val dvAdds = DeltaInterop.readLog(DeltaInterop.logFile(table.resolve(s"v$vd")))
      .adds.filter(_.dv.nonEmpty)
    assert(dvAdds.nonEmpty && dvAdds.map(_.dv.get.cardinality).sum == doomedKeys.size)

    // current read subtracts the tombstones; time travel does not
    assert(stateKeys(table) == all -- doomedKeys)
    assert(Storage.readPartitionedVersionAt(spark, table, v0).count() == all.size)

    // the change feed sees a DV-only commit (manifest diff alone would not)
    val feed = Cdc.changeDataFeed(spark, table, v0, vd,
      pk = Seq("n_nationkey"), compareCols = Seq("n_name", "n_regionkey"))
    val deletes = feed.filter(col("change_type") === "delete")
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet
    assert(deletes == doomedKeys)
    assert(feed.filter(col("change_type") =!= "delete").count() == 0)

    // deleting already-deleted/absent keys tombstones nothing new but
    // still commits (idempotent takedown re-delivery)
    val vAgain = MergeOps.deleteWithVectors(table, doomed, pk = Seq("n_nationkey"),
      nParts = 4, keepVersions = 8)
    assert(vAgain == vd + 1)
    assert(stateKeys(table) == all -- doomedKeys)
    // ...and carries the previous tombstones forward unchanged
    assert(Storage.deletionVector(table).values.map(_.size).sum == doomedKeys.size)
  }

  test("tombstones merge across commits, shed on organic rewrite, compact clean") {
    val table = Files.createTempDirectory("dv2").resolve("t")
    loadNation(table, nation)
    val all = nation.select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet

    def del(pred: org.apache.spark.sql.Column): Long =
      MergeOps.deleteWithVectors(table,
        nation.select(col("n_nationkey")).filter(pred),
        pk = Seq("n_nationkey"), nParts = 4, keepVersions = 8)

    del(col("n_nationkey") % 5 === 0)
    del(col("n_nationkey") % 7 === 1) // key 15 overlaps the first delete
    val gone = all.filter(k => k % 5 == 0 || k % 7 == 1)
    assert(stateKeys(table) == all -- gone)

    // organic rewrite of one surviving key's bucket: the upsert reads
    // THROUGH the vector, so the rewritten bucket materializes its
    // deletions and sheds its DV entries — state unchanged except the update
    val survivor = (all -- gone).head
    loadNation(table,
      nation.filter(col("n_nationkey") === survivor)
        .withColumn("n_name", lit("REWRITTEN")))
    assert(stateKeys(table) == all -- gone,
      "a bucket rewrite must not resurrect its tombstoned rows")
    val dvAfter = Storage.deletionVector(table)
    assert(dvAfter.values.map(_.size).sum < gone.size,
      "the rewritten bucket's tombstones must shed")

    // compaction: DV empties, state identical, and the raw files (read
    // WITHOUT the DV path, straight from the manifest's owner dirs) no
    // longer contain the doomed rows
    MergeOps.compactDeletionVectors(spark, table, keepVersions = 8)
    assert(Storage.deletionVector(table).isEmpty)
    assert(stateKeys(table) == all -- gone)
    val cur = Storage.currentVersion(table).get
    val manifest = graft.ops.Storage.committedPartitions(table)
    val raw = Storage.readPartitionedVersionAt(spark, table, cur) // DV empty ⇒ raw
    assert(raw.select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet
      == all -- gone)
    assert(manifest.nonEmpty)
  }

  test("fully tombstoned bucket reads empty and compacts to an explicit drop") {
    val table = Files.createTempDirectory("dv3").resolve("t")
    loadNation(table, nation)
    val withBucket = Storage.readPartitionedVersion(spark, table)
      .select(col("n_nationkey").cast("long"), col("pbucket")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val (victimBucket, victims) = withBucket.groupBy(_._2).head match {
      case (b, rows) => (b, rows.map(_._1).toSet)
    }
    val all = withBucket.map(_._1).toSet

    MergeOps.deleteWithVectors(table,
      nation.select(col("n_nationkey")).filter(col("n_nationkey").isin(victims.toSeq: _*)),
      pk = Seq("n_nationkey"), nParts = 4, keepVersions = 8)
    assert(stateKeys(table) == all -- victims)

    MergeOps.compactDeletionVectors(spark, table, keepVersions = 8)
    assert(Storage.deletionVector(table).isEmpty)
    assert(stateKeys(table) == all -- victims)
    assert(!Storage.committedPartitions(table).contains(s"pbucket=$victimBucket"),
      "an emptied bucket must leave the manifest, not linger as stale bytes")
  }

  test("two concurrent DV takedowns both land and their tombstones union") {
    // a DV-only winner moves no data file, so a racing DV-only loser's
    // coordinates still name live bytes: the conflict set must NOT treat
    // dv-vs-dv on the same bucket as an overlap — the loser's CAS retry
    // carries the winner's descriptors and unions both, the
    // serial outcome (round 12; the converse directions — a rewrite
    // racing a DV and a DV racing a rewrite — abort or rebase, see
    // PartitionedStorageSpec).
    val table = Files.createTempDirectory("dv_race").resolve("t")
    loadNation(table, nation)
    val all = nation.select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(5L -> 0L, 7L -> 1L).map { case (m, r) =>
      new Thread(() => {
        try MergeOps.deleteWithVectors(table,
          nation.select(col("n_nationkey")).filter(col("n_nationkey") % m === r),
          pk = Seq("n_nationkey"), nParts = 4, keepVersions = 8)
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent takedowns must both land: ${errs.peek()}")
    assert(Storage.currentVersion(table).contains(2L), "two DV commits expected")
    val gone = all.filter(k => k % 5 == 0 || k % 7 == 1)
    assert(stateKeys(table) == all -- gone,
      "the surviving state must reflect BOTH takedowns")
    assert(Storage.deletionVector(table).values.map(_.size).sum == gone.size,
      "the committed vector must be the union of both takedowns")
  }

  test("DV round trip under a table path containing a space (URI-encodable root)") {
    // ADVICE r11 (low): the scan renders file_path as a percent-encoded
    // URI while driver paths are raw — an absolute-string anti-join key
    // silently fails to subtract tombstones for such roots. Coordinates
    // are table-relative (`v<ver>/<part>/<file>`) on both sides now.
    val table = Files.createTempDirectory("dv space dir").resolve("t")
    loadNation(table, nation)
    val all = nation.select(col("n_nationkey").cast("long")).collect().map(_.getLong(0)).toSet
    val doomedKeys = all.filter(_ % 5 == 0)
    val vd = MergeOps.deleteWithVectors(table,
      nation.select(col("n_nationkey")).filter(col("n_nationkey") % 5 === 0),
      pk = Seq("n_nationkey"), nParts = 4, keepVersions = 8)
    assert(partDirs(table.resolve(s"v$vd")).isEmpty, "DV commit must rewrite no data")
    assert(Storage.deletionVector(table).values.map(_.size).sum == doomedKeys.size)
    assert(stateKeys(table) == all -- doomedKeys,
      "tombstones must subtract under an encodable table root")
    MergeOps.compactDeletionVectors(spark, table, keepVersions = 8)
    assert(Storage.deletionVector(table).isEmpty)
    assert(stateKeys(table) == all -- doomedKeys)
  }
}
