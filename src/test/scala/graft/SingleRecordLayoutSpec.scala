package graft

import java.nio.file.{Files, Path}

import graft.ops.{DeltaInterop, MergeOps, MetaAgg, Storage}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The per-version Delta log is the ONE record of a version's files, their
  * stats and their deletion vectors. After every write path, each retained
  * `v<N>` carries `_delta_log` and no file-describing JSON beside it, and
  * the engine's own read of the version equals the external-reader replay
  * of that log ([[DeltaInterop.readSnapshot]]) row for row. A retained
  * version whose log is missing fails loudly instead of being served. */
class SingleRecordLayoutSpec extends SparkTestBase {

  // the only JSON a version dir may hold besides its log: the bucket
  // manifest, the geometry marker and clone provenance — none describes files
  private val AllowedJson = Set("_PARTS.json", "_GEOMETRY.json", "_CLONE_SOURCE.json")

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
    finally s.close()
  }

  private def retained(table: Path): Seq[Long] =
    names(table).collect { case n if n.matches("v\\d+") => n.drop(1).toLong }.toSeq.sorted

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSingleRecord(table: Path, step: String): Unit = {
    val vs = retained(table)
    assert(vs.nonEmpty, s"$step: no retained version")
    vs.foreach { v =>
      val vdir = table.resolve(s"v$v")
      assert(Files.exists(DeltaInterop.logFile(vdir)), s"$step: v$v has no Delta log")
      val json = names(vdir).filter(n => n.startsWith("_") && n.endsWith(".json"))
      assert(json.subsetOf(AllowedJson),
        s"$step: v$v holds metadata beside its log: ${json -- AllowedJson}")
      val engine =
        if (names(vdir).contains("_PARTS.json"))
          Storage.readPartitionedVersionAt(spark, table, v)
        else Storage.readVersionAt(spark, table, v)
      assert(sortedRows(engine) == sortedRows(DeltaInterop.readSnapshot(spark, vdir)),
        s"$step: v$v engine read differs from its log replay")
    }
  }

  private val RunTs = lit("2024-01-01 00:00:00").cast("timestamp")

  private def nation: DataFrame =
    Tables.nation(spark, Sf001)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))

  private def takedown(table: Path, pred: org.apache.spark.sql.Column): Long =
    MergeOps.deleteWithVectors(table, nation.select(col("n_nationkey")).filter(pred),
      pk = Seq("n_nationkey"), nParts = 4, keepVersions = 16)

  test("pbucket table: upsert, two takedowns, restore, DV compaction, rebucket") {
    val table = Files.createTempDirectory("single_record_p").resolve("t")
    val v0 = MergeOps.prunedConditionalUpsert(table, nation, pk = Seq("n_nationkey"),
      tracked = Seq("n_name", "n_regionkey"), runTs = RunTs, nParts = 4,
      keepVersions = 16)
    assertSingleRecord(table, "commitPartitions")

    val v1 = takedown(table, col("n_nationkey") % 5 === 0)
    assertSingleRecord(table, "first takedown")
    val dv1 = Storage.readDeletionVector(table.resolve(s"v$v1"))
    assert(dv1.values.map(_.size).sum == 5, dv1.toString)
    takedown(table, col("n_nationkey") % 7 === 1)
    assertSingleRecord(table, "second takedown")
    // key 15 is in both takedowns: the union tombstones 5 + 4 - 1 rows
    assert(Storage.deletionVector(table).values.map(_.size).sum == 8)

    // restore re-pins v1's files WITH their descriptors
    val vr = Storage.restore(spark, table, v1, keepVersions = 16)
    assertSingleRecord(table, "restore")
    assert(Storage.readDeletionVector(table.resolve(s"v$vr")) == dv1)
    assert(sortedRows(Storage.readPartitionedVersion(spark, table)) ==
      sortedRows(Storage.readPartitionedVersionAt(spark, table, v1)))

    MergeOps.compactDeletionVectors(spark, table, keepVersions = 16)
    assertSingleRecord(table, "compactDeletionVectors")
    assert(Storage.deletionVector(table).isEmpty)

    Storage.rebucket(spark, table, pk = Seq("n_nationkey"), newN = 8, keepVersions = 16)
    assertSingleRecord(table, "rebucket")
    assert(Storage.readPartitionedVersion(spark, table).count() ==
      Storage.readPartitionedVersionAt(spark, table, v0).count() - 5)
    // the history's tombstone column is the descriptors' cardinality
    val dvRows = MetaAgg.history(spark, table).select("version", "dv_rows").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dvRows(v1) == 5 && dvRows(vr) == 5 && dvRows(v0) == 0, dvRows.toString)
  }

  test("flat table: commitVersion and a shallow clone") {
    val work = Files.createTempDirectory("single_record_f")
    val (src, dst) = (work.resolve("src"), work.resolve("dst"))
    val orders = Tables.orders(spark, Sf001)
    Storage.commitVersion(orders.repartition(4), src, keepVersions = 4)
    Storage.commitVersion(orders.limit(100), src, keepVersions = 4)
    assertSingleRecord(src, "commitVersion")
    Storage.commitVersion(orders.limit(50), src, keepVersions = 4, fileStats = false)
    assertSingleRecord(src, "commitVersion without stats")

    Storage.cloneTable(spark, src, dst, keepVersions = 4)
    assertSingleRecord(dst, "cloneTable")
    Storage.commitVersion(orders.limit(10), dst, keepVersions = 4)
    assertSingleRecord(dst, "commit on the clone")
    assertSingleRecord(src, "clone source")
  }

  test("a retained version without its log fails loudly, naming it") {
    val table = Files.createTempDirectory("single_record_lost").resolve("t")
    MergeOps.prunedConditionalUpsert(table, nation, pk = Seq("n_nationkey"),
      tracked = Seq("n_name", "n_regionkey"), runTs = RunTs, nParts = 4,
      keepVersions = 4)
    val v1 = takedown(table, col("n_nationkey") === 3)
    Storage.deleteRecursively(DeltaInterop.logFile(table.resolve(s"v$v1")).getParent)
    val where = table.resolve(s"v$v1").toString
    def failsNaming(op: => Any): Unit = {
      val e = intercept[IllegalArgumentException](op)
      assert(e.getMessage.contains(where), e.getMessage)
    }
    failsNaming(Storage.readPartitionedVersion(spark, table).count())
    failsNaming(MetaAgg.rowCount(table))
    failsNaming(Storage.deletionVector(table))
    failsNaming(takedown(table, col("n_nationkey") === 4))
  }
}
