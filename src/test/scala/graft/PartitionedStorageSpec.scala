package graft

import java.nio.file.Files

import graft.ops.Storage
import org.apache.spark.sql.functions._

class PartitionedStorageSpec extends SparkTestBase {

  test("commit log: reader during a commit keeps a valid snapshot; no missing-path window") {
    import java.nio.file.{Files => F}
    val table = Files.createTempDirectory("commit_log").resolve("t")
    val nation = Tables.nation(spark, Sf001)

    assert(Storage.currentVersion(table).isEmpty)
    assert(Storage.readVersionOr(spark, table, nation.limit(0)).count() == 0)

    val v0 = Storage.commitVersion(nation, table)
    assert(v0 == 0 && Storage.currentVersion(table).contains(0L))

    // an in-flight reader resolves its directory BEFORE the next commit...
    val pinned = Storage.readVersion(spark, table)
    val v1 = Storage.commitVersion(nation.limit(5), table)
    assert(v1 == 1)
    // ...and still reads the OLD complete snapshot afterwards (v0 is inside
    // the keep-window), while a fresh reader sees the new version. This is
    // exactly the isolation a directory swap cannot give.
    assert(pinned.count() == nation.count())
    assert(Storage.readVersion(spark, table).count() == 5)

    // vacuum: a third commit pushes v0 out of keepVersions=1
    Storage.commitVersion(nation.limit(7), table)
    assert(!F.exists(table.resolve("v0")), "v0 should be vacuumed")
    assert(F.exists(table.resolve("v1")), "v1 stays for in-flight readers")

    // time travel inside the keep-window; vacuumed/future versions refuse
    assert(Storage.readVersionAt(spark, table, 1).count() == 5)
    intercept[IllegalArgumentException](Storage.readVersionAt(spark, table, 0))
    intercept[IllegalArgumentException](Storage.readVersionAt(spark, table, 9))

    // crash after promote but before the pointer swap = orphan directory;
    // the pointer still names the last complete version. The next commit
    // CANNOT tell the orphan from a racing writer's promoted version, so
    // it fails loudly (CAS contract) until the single writer repairs.
    val orphan = table.resolve("v3")
    F.createDirectories(orphan)
    F.write(orphan.resolve("junk"), "torn".getBytes)
    assert(Storage.readVersion(spark, table).count() == 7)
    intercept[java.util.ConcurrentModificationException] {
      Storage.commitVersion(nation.limit(9), table)
    }
    Storage.repairOrphans(table)
    val v3 = Storage.commitVersion(nation.limit(9), table)
    assert(v3 == 3 && Storage.readVersion(spark, table).count() == 9)
  }

  test("commit log CAS: of two interleaved committers the loser throws, never clobbers") {
    val table = Files.createTempDirectory("cas_commit").resolve("t")
    val nation = Tables.nation(spark, Sf001)
    Storage.commitVersion(nation, table)

    // Writer A resolves base v0 and targets v1; writer B commits v1 first.
    // A's promote rename then fails atomically — the filesystem is the
    // arbiter — and A surfaces the lost update instead of overwriting B.
    val winner = Storage.commitVersion(nation.limit(5), table) // B wins v1
    assert(winner == 1)
    val vdir = table.resolve("v1") // A's target already exists
    intercept[java.util.ConcurrentModificationException] {
      // simulate A: its staging is ready, promote races into the taken slot
      val staging = table.resolve(".staging-v1-test-loser")
      nation.limit(2).write.parquet(staging.toString)
      import java.nio.file.{Files => F, StandardCopyOption}
      try F.move(staging, vdir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException if F.exists(vdir) =>
          Storage.deleteRecursively(staging)
          throw new java.util.ConcurrentModificationException("lost update", e)
      }
    }
    // B's committed bytes are intact and still pointed to
    assert(Storage.currentVersion(table).contains(1L))
    assert(Storage.readVersion(spark, table).count() == 5)

    // and the end-to-end arm: a racing winner's dir pre-exists → the full
    // commitVersion call is the loser and throws
    // (a promoted dir is never empty — staging always carries _SUCCESS)
    val orphanRace = table.resolve("v2")
    java.nio.file.Files.createDirectories(orphanRace)
    java.nio.file.Files.write(orphanRace.resolve("_SUCCESS"), Array[Byte]())
    intercept[java.util.ConcurrentModificationException] {
      Storage.commitVersion(nation.limit(3), table)
    }
    assert(Storage.readVersion(spark, table).count() == 5, "loser must not clobber")
  }

  test("prunedConditionalUpsert rewrites only buckets with incoming PKs; rest carry by reference") {
    import graft.ops.MergeOps
    import java.nio.file.{Files => F, Path}
    val table = Files.createTempDirectory("pruned_upsert").resolve("t")
    import spark.implicits._

    def withAudit(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))
    val t0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2024-02-01 00:00:00").cast("timestamp")

    val base = withAudit(spark.range(200).select($"id".as("k"),
      ($"id" % 7).cast("string").as("attr")))
    MergeOps.prunedConditionalUpsert(table, base,
      pk = Seq("k"), tracked = Seq("attr"), runTs = t0, nParts = 8)

    // byte-level snapshot of every v0 data file
    def dataFiles(p: Path): Map[String, Seq[Byte]] = {
      val s = F.walk(p)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(f => f.toString.endsWith(".parquet") && F.isRegularFile(f))
        .map(f => table.relativize(f).toString -> F.readAllBytes(f).toSeq)
        .toMap
      finally s.close()
    }
    val v0Files = dataFiles(table.resolve("v0"))
    assert(v0Files.nonEmpty)

    // incremental load: 3 changed keys + 1 new key
    val inc = withAudit(Seq(0L -> "X", 31L -> "X", 62L -> "X", 999L -> "NEW")
      .toDF("k", "attr"))
    MergeOps.prunedConditionalUpsert(table, inc,
      pk = Seq("k"), tracked = Seq("attr"), runTs = t1, nParts = 8)

    // v1 holds ONLY the affected buckets (≤ 4 of 8)
    val affected = Seq(0L, 31L, 62L, 999L)
      .map(k => spark.sql(s"SELECT pmod(xxhash64(${k}L), 8)").first().getLong(0))
      .distinct
    val s1 = F.list(table.resolve("v1"))
    val v1Parts =
      try s1.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(_.startsWith("pbucket=")).toSeq
      finally s1.close()
    assert(v1Parts.toSet == affected.map(b => s"pbucket=$b").toSet,
      s"v1 must hold exactly the affected buckets, got $v1Parts")

    // untouched v0 files are BYTE-IDENTICAL (never rewritten or moved)
    val v0After = dataFiles(table.resolve("v0"))
    assert(v0After == v0Files, "untouched partitions' files must not change")

    // and the composed state equals the all-at-once upsert
    val got = Storage.readPartitionedVersion(spark, table).drop("pbucket")
    val baseState = MergeOps.conditionalUpsert(
      withAudit(spark.range(0).select($"id".as("k"), lit("").as("attr"))),
      base, Seq("k"), Seq("attr"), t0)
    val want = MergeOps.conditionalUpsert(baseState, inc, Seq("k"), Seq("attr"), t1)
    assert(got.count() == 201)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("commit log: schema evolves across versions; time travel returns each version's own schema") {
    import spark.implicits._
    val table = Files.createTempDirectory("schema_evo").resolve("t")
    Storage.commitVersion(Seq((1L, "a")).toDF("id", "name"), table, keepVersions = 2)
    // v1 adds a column — a new immutable version dir, so no merge problem
    Storage.commitVersion(Seq((1L, "a", 0.5)).toDF("id", "name", "score"), table, keepVersions = 2)
    assert(Storage.readVersion(spark, table).columns.toSeq == Seq("id", "name", "score"))
    assert(Storage.readVersionAt(spark, table, 0).columns.toSeq == Seq("id", "name"))
  }

  test("readVersionOr refuses a flat (non-versioned) table instead of silently rebuilding") {
    val table = Files.createTempDirectory("flat_guard").resolve("t")
    val nation = Tables.nation(spark, Sf001)
    nation.write.parquet(table.toString) // plain parquet from another tool
    intercept[IllegalArgumentException] {
      Storage.readVersionOr(spark, table, nation.limit(0))
    }
  }

  test("compact on a versioned table commits a compacted version; layout intact") {
    import java.nio.file.{Files => F}
    val table = Files.createTempDirectory("compact_versioned").resolve("t")
    val orders = Tables.orders(spark, Sf001)
    Storage.commitVersion(orders.repartition(16), table)
    val n = Storage.compact(spark, table, targetBytes = 1L << 30)
    assert(n == 1)
    assert(Storage.currentVersion(table).contains(1L), "compaction is commit v1")
    assert(Storage.readVersion(spark, table).count() == orders.count())
    assert(F.exists(table.resolve("_LATEST")))
  }

  test("compact on a partition-manifested table keeps carried partitions (no silent drop)") {
    import graft.ops.MergeOps
    import java.nio.file.{Files => F}
    import spark.implicits._
    val table = Files.createTempDirectory("compact_parts").resolve("t")
    def withAudit(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))
    val t0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val t1 = lit("2024-02-01 00:00:00").cast("timestamp")
    MergeOps.prunedConditionalUpsert(table,
      withAudit(spark.range(100).select($"id".as("k"), ($"id" % 5).cast("string").as("attr"))),
      pk = Seq("k"), tracked = Seq("attr"), runTs = t0, nParts = 8)
    MergeOps.prunedConditionalUpsert(table,
      withAudit(Seq(3L -> "X").toDF("k", "attr")),
      pk = Seq("k"), tracked = Seq("attr"), runTs = t1, nParts = 8)
    val before = Storage.readPartitionedVersion(spark, table).collect()
      .map(_.toString).sorted.toSeq
    // v1 holds only the one rewritten bucket; a naive "compact the latest
    // dir" would commit THAT as the whole table, losing 7 buckets
    Storage.compact(spark, table, targetBytes = 1L << 30)
    assert(Storage.currentVersion(table).contains(2L))
    val after = Storage.readPartitionedVersion(spark, table).collect()
      .map(_.toString).sorted.toSeq
    assert(after == before, "compaction must preserve the composed state")
    // the compacted version owns every partition, but v0 must SURVIVE this
    // commit: v1 is still retained (keepVersions=1) and v1's manifest maps
    // its carried buckets to v0 — vacuuming v0 here would break
    // readPartitionedVersionAt(v1) and feed(v1, v2). Only after the NEXT
    // commit pushes v1 out of the keep window does v0 become vacuumable.
    assert(F.exists(table.resolve("v0")), "v0 carries buckets for retained v1")
    assert(F.exists(table.resolve("v1")))
    assert(Storage.readPartitionedVersionAt(spark, table, 1L).count() == 100)
    MergeOps.prunedConditionalUpsert(table,
      withAudit(Seq(7L -> "Y").toDF("k", "attr")),
      pk = Seq("k"), tracked = Seq("attr"), runTs = t1, nParts = 8)
    assert(!F.exists(table.resolve("v0")),
      "v0 vacuums once no retained manifest references it")
    assert(!F.exists(table.resolve("v1")), "v1 left the keep window")
    // and the Delta log of the compacted version is fully self-contained
    // (all adds relative — nothing carried)
    val log = graft.ops.DeltaInterop.readLog(
      graft.ops.DeltaInterop.logFile(table.resolve("v2")))
    assert(log.adds.nonEmpty && log.adds.forall(a => !a.path.startsWith("file:")))
  }

  test("add-column evolution: carried buckets read null for the new column, like Delta") {
    import org.apache.spark.sql.functions.{pmod, xxhash64}
    import spark.implicits._
    val table = Files.createTempDirectory("parts_evolve").resolve("t")
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("pbucket", pmod(xxhash64(col("k")), lit(4)).cast("int"))
    Storage.commitPartitions(
      bucketed((1L to 40L).toDF("k").withColumn("a", col("k") * 2)),
      table, "pbucket")
    // second load rewrites ONE full bucket and ADDS a column
    val st = Storage.readPartitionedVersion(spark, table)
    val bkt = st.filter(col("k") === 1L).select("pbucket").as[Int].head()
    val evolved = st.filter(col("pbucket") === bkt)
      .withColumn("b", when(col("k") === 1L, lit("fresh")))
    Storage.commitPartitions(evolved, table, "pbucket")

    val composed = Storage.readPartitionedVersion(spark, table)
    assert(composed.columns.toSet == Set("k", "a", "b", "pbucket"))
    assert(composed.count() == 40)
    // carried rows resolve the later-added column as null; the rewritten
    // bucket's rows carry it — and the Delta read agrees exactly
    assert(composed.filter(col("b").isNull).count() == 39)
    assert(composed.filter(col("k") === 1L).select("b").as[String].head() == "fresh")
    val delta = graft.ops.DeltaInterop.readSnapshot(
      spark, table.resolve(s"v${Storage.currentVersion(table).get}"))
    assert(delta.select("k", "a", "b").collect().map(_.toString).sorted.toSeq ==
      composed.select("k", "a", "b").collect().map(_.toString).sorted.toSeq)

    // a PRUNED read whose selected buckets ALL predate the column must
    // still resolve it (as null) — no branch of the union carries it
    val carriedOnly = Storage.committedPartitions(table) - s"pbucket=$bkt"
    val pruned = Storage.readPartitionedVersion(spark, table, Some(carriedOnly))
    assert(pruned.columns.contains("b") && pruned.filter(col("b").isNotNull).count() == 0)

    // a LATER rewrite whose frame OMITS the declared column is refused:
    // writing a partition without it would null its values there — silent
    // data loss for a caller bug (evolution is add-only, never narrowing)
    val otherBkt = carriedOnly.head
    val narrower = st.filter(col("pbucket") === otherBkt.stripPrefix("pbucket=").toInt)
    val e = intercept[IllegalArgumentException] {
      Storage.commitPartitions(narrower, table, "pbucket")
    }
    assert(e.getMessage.contains("omits declared column"))
    // a COVERING partial rewrite commits fine and the evolved value survives
    Storage.commitPartitions(
      narrower.withColumn("b", lit(null).cast("string")), table, "pbucket")
    val after = Storage.readPartitionedVersion(spark, table)
    assert(after.columns.contains("b"))
    assert(after.filter(col("k") === 1L).select("b").as[String].head() == "fresh")
  }

  test("empty bootstrap commit does not wedge the table: reads type from the Delta log, next load succeeds") {
    import graft.ops.MergeOps
    import spark.implicits._
    val table = Files.createTempDirectory("empty_boot").resolve("t")
    def withAudit(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))
    val t0 = lit("2024-01-01 00:00:00").cast("timestamp")
    val empty = withAudit(spark.range(0).select($"id".as("k"), lit("").as("attr")))
    MergeOps.prunedConditionalUpsert(table, empty,
      pk = Seq("k"), tracked = Seq("attr"), runTs = t0, nParts = 8)
    // the primary read path returns an empty TYPED frame, not an exception
    val read0 = Storage.readPartitionedVersion(spark, table)
    assert(read0.count() == 0 && read0.columns.contains("k"))
    // and a later real load proceeds normally
    MergeOps.prunedConditionalUpsert(table,
      withAudit(Seq(1L -> "a").toDF("k", "attr")),
      pk = Seq("k"), tracked = Seq("attr"), runTs = t0, nParts = 8)
    assert(Storage.readPartitionedVersion(spark, table).count() == 1)
  }

  test("compact on an empty bootstrap partitioned commit is a safe no-op") {
    import spark.implicits._
    val table = Files.createTempDirectory("compact_empty").resolve("t")
    Storage.commitPartitions(
      spark.range(0).select($"id".as("k"), lit(0).as("pbucket")), table, "pbucket")
    assert(Storage.compact(spark, table) == 0)
    assert(Storage.currentVersion(table).contains(0L), "no spurious version")
  }

  test("compact: many small files collapse to the byte-targeted count, rows intact") {
    import java.nio.file.{Files => F}
    val table = Files.createTempDirectory("compaction").resolve("t")
    val orders = Tables.orders(spark, Sf001)
    // no committed version: nothing to compact, and it says so
    intercept[IllegalStateException](Storage.compact(spark, table))
    Storage.commitVersion(orders.repartition(16), table)
    def parquetFiles(v: Long) = {
      val s = F.list(table.resolve(s"v$v"))
      try s.toArray.map(_.toString).count(_.endsWith(".parquet")) finally s.close()
    }
    assert(parquetFiles(0) == 16)
    val n = Storage.compact(spark, table, targetBytes = 1L << 30)
    assert(n == 1 && parquetFiles(1) == 1, "tiny table must compact to one file")
    assert(Storage.readVersion(spark, table).count() == orders.count())
  }

  test("rebucket: state identity, EMPTY change feed, pruning works at the new geometry") {
    import graft.ops.{Cdc, MergeOps}
    import spark.implicits._
    val table = Files.createTempDirectory("rebucket").resolve("t")
    def withAudit(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))
    MergeOps.prunedConditionalUpsert(table,
      withAudit(spark.range(200).select($"id".as("k"), ($"id" % 7).cast("string").as("attr"))),
      pk = Seq("k"), tracked = Seq("attr"),
      runTs = lit("2024-01-01 00:00:00").cast("timestamp"), nParts = 8,
      keepVersions = 4)
    val v0 = Storage.currentVersion(table).get
    val before = Storage.readPartitionedVersion(spark, table).drop("pbucket")
      .collect().map(_.toSeq).toSet

    val v1 = Storage.rebucket(spark, table, pk = Seq("k"), newN = 16, keepVersions = 4)
    assert(v1 == v0 + 1)

    // state identity: same rows, audit columns included
    val after = Storage.readPartitionedVersion(spark, table).drop("pbucket")
      .collect().map(_.toSeq).toSet
    assert(after == before, "rebucket must not change a single row")
    // the new geometry really is 16-way (200 keys fill all 16 buckets)
    val m1 = Storage.readPartsManifest(table.resolve(s"v$v1"))
    assert(m1.keySet == (0 until 16).map(b => s"pbucket=$b").toSet, m1.toString)
    assert(m1.values.forall(_ == v1), "every partition must be owned by the rebucket commit")

    // FEED-INVISIBLE: the pk-level change feed across the commit is empty
    assert(Cdc.changeDataFeed(spark, table, v0, v1,
      pk = Seq("k"), compareCols = Seq("attr")).isEmpty)
    // time travel to the pre-rebucket version still reads the old geometry
    assert(Storage.readPartitionedVersionAt(spark, table, v0)
      .drop("pbucket").collect().map(_.toSeq).toSet == before)

    // a follow-up pruned upsert AT THE NEW GEOMETRY prunes: one incoming
    // key rewrites exactly its one 16-way bucket, the rest carry
    val v2 = MergeOps.prunedConditionalUpsert(table,
      withAudit(Seq(5L -> "CHANGED").toDF("k", "attr")),
      pk = Seq("k"), tracked = Seq("attr"),
      runTs = lit("2024-02-01 00:00:00").cast("timestamp"), nParts = 16,
      keepVersions = 4)
    val m2 = Storage.readPartsManifest(table.resolve(s"v$v2"))
    assert(m2.values.count(_ == v2) == 1, s"exactly one bucket rewrites: $m2")
    assert(Storage.readPartitionedVersion(spark, table)
      .filter(col("k") === 5L).select("attr").head.getString(0) == "CHANGED")
  }

  test("geometry marker: a pruned write with the wrong nParts fails loudly; rebucket re-records it") {
    import graft.ops.MergeOps
    import spark.implicits._
    val table = Files.createTempDirectory("geometry").resolve("t")
    def withAudit(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))
    def load(rows: Seq[(Long, String)], n: Int) =
      MergeOps.prunedConditionalUpsert(table, withAudit(rows.toDF("k", "attr")),
        pk = Seq("k"), tracked = Seq("attr"),
        runTs = lit("2024-01-01 00:00:00").cast("timestamp"), nParts = n)
    load(Seq(1L -> "a", 2L -> "b"), 8)
    assert(Storage.declaredGeometry(table).contains(8))
    // the silent-duplicate hazard, now a loud failure: nParts=16 would
    // hash key 1 into a different bucket, read the wrong files, conclude
    // the key is absent, and write it twice
    val e = intercept[IllegalArgumentException] { load(Seq(1L -> "X"), 16) }
    assert(e.getMessage.contains("nParts=8"), e.getMessage)
    // deletes validate too
    intercept[IllegalArgumentException] {
      MergeOps.prunedDelete(table, Seq(1L).toDF("k"), pk = Seq("k"), nParts = 16)
    }
    // rebucket is the legitimate writer of a new value
    Storage.rebucket(spark, table, pk = Seq("k"), newN = 16)
    assert(Storage.declaredGeometry(table).contains(16))
    assert(load(Seq(1L -> "X"), 16) > 0)
    intercept[IllegalArgumentException] { load(Seq(2L -> "Y"), 8) }
    assert(Storage.readPartitionedVersion(spark, table)
      .filter(col("k") === 1L).select("attr").head.getString(0) == "X")
    // the marker travels WITH the commits (rebucket installs it in its
    // version dir, later commits carry it forward) — the root copy is only
    // the legacy fallback: delete it and resolution must still say 16
    Files.delete(table.resolve("_GEOMETRY.json"))
    assert(Storage.declaredGeometry(table).contains(16),
      "in-commit geometry marker must survive without the root fallback")
    intercept[IllegalArgumentException] { load(Seq(3L -> "Z"), 8) }
  }

  test("geometry adoption on a pre-marker table rejects an nParts smaller than the laid-out ids") {
    import graft.ops.MergeOps
    import spark.implicits._
    // simulate a legacy table: committed directly (no validate, no marker)
    // with a 16-way layout
    val table = Files.createTempDirectory("geometry_adopt").resolve("t")
    Storage.commitPartitions(
      spark.range(100).select($"id".as("k"), lit("x").as("attr"),
        lit(null).cast("timestamp").as("loaded_at"),
        lit(null).cast("timestamp").as("last_upd_at"),
        pmod(xxhash64($"id"), lit(16)).cast("int").as("pbucket")),
      table, "pbucket")
    assert(Storage.declaredGeometry(table).isEmpty)
    // adopting nParts=8 would read the wrong buckets — the manifest's ids
    // 8..15 prove the claim wrong, so adoption fails loudly
    val e = intercept[IllegalArgumentException] {
      MergeOps.prunedDelete(table, Seq(1L).toDF("k"), pk = Seq("k"), nParts = 8)
    }
    assert(e.getMessage.contains(">= 8"), e.getMessage)
    // the true geometry adopts cleanly
    MergeOps.prunedDelete(table, Seq(1L).toDF("k"), pk = Seq("k"), nParts = 16)
    assert(Storage.declaredGeometry(table).contains(16))
  }

  test("rebucket shrink: old bucket names beyond the new geometry are dropped, not carried") {
    import graft.ops.MergeOps
    import spark.implicits._
    val table = Files.createTempDirectory("rebucket_shrink").resolve("t")
    def withAudit(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("loaded_at", lit(null).cast("timestamp"))
      .withColumn("last_upd_at", lit(null).cast("timestamp"))
    MergeOps.prunedConditionalUpsert(table,
      withAudit(spark.range(100).select($"id".as("k"), lit("x").as("attr"))),
      pk = Seq("k"), tracked = Seq("attr"),
      runTs = lit("2024-01-01 00:00:00").cast("timestamp"), nParts = 16)
    val before = Storage.readPartitionedVersion(spark, table).drop("pbucket")
      .collect().map(_.toSeq).toSet
    val v1 = Storage.rebucket(spark, table, pk = Seq("k"), newN = 4)
    val m = Storage.readPartsManifest(table.resolve(s"v$v1"))
    assert(m.keySet == (0 until 4).map(b => s"pbucket=$b").toSet,
      s"shrunk manifest must not carry stale 16-way names: $m")
    assert(Storage.readPartitionedVersion(spark, table).drop("pbucket")
      .collect().map(_.toSeq).toSet == before)
  }

  // ---- optimistic concurrency: disjoint writers ---------------------------

  /** A frame whose data write parks on a named gate until the test opens
    * it — the deterministic way to hold writer A mid-commit while writer B
    * races past it (gates live in a static map: local-mode tasks run
    * in-JVM but closures still serialize, so the latch can't be captured). */
  private def gated(df: org.apache.spark.sql.DataFrame, key: String): org.apache.spark.sql.DataFrame = {
    PartitionedStorageSpec.gates.putIfAbsent(key, new java.util.concurrent.CountDownLatch(1))
    df.mapPartitions { it =>
      PartitionedStorageSpec.gates.get(key).await()
      it
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }

  private def bucketRows(pairs: (Long, String, Int)*) = {
    import spark.implicits._
    pairs.toSeq.toDF("k", "attr", "pbucket")
  }

  private def awaitStaging(table: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => F}
    // generous: under full-suite parallel execution the gated writer's
    // Spark jobs compete with every other suite for the shared context
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    var seen = false
    while (!seen) {
      assert(System.nanoTime() < deadline, "writer A never reached its staging write")
      if (F.isDirectory(table)) {
        val s = F.list(table)
        try seen = s.toArray.exists(_.asInstanceOf[java.nio.file.Path]
          .getFileName.toString.startsWith(".staging-"))
        finally s.close()
      }
      Thread.sleep(20)
    }
  }

  test("disjoint concurrent commitPartitions: the rename loser retries and BOTH writers land") {
    val table = Files.createTempDirectory("occ_disjoint").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 0), (2L, "b", 1), (3L, "c", 2), (4L, "d", 3)),
      table, "pbucket", keepVersions = 4)

    // writer A (bucket 2) parks inside its data write…
    val gate = s"occ_disjoint_${System.nanoTime()}"
    @volatile var aError: Throwable = null
    @volatile var aVersion = -1L
    val a = new Thread(() => {
      try aVersion = Storage.commitPartitions(
        gated(bucketRows((3L, "C2", 2)), gate), table, "pbucket", keepVersions = 4)
      catch { case t: Throwable => aError = t }
    })
    a.start()
    awaitStaging(table)
    // …while writer B (bucket 1) commits v1 end-to-end…
    val bVersion = Storage.commitPartitions(
      bucketRows((2L, "B2", 1)), table, "pbucket", keepVersions = 4)
    assert(bVersion == 1L)
    // …then A resumes, loses the v1 rename, sees B only touched bucket 1,
    // and retries onto v2 without rewriting its data
    PartitionedStorageSpec.gates.get(gate).countDown()
    a.join(180000)
    assert(aError == null, s"writer A must land, got: $aError")
    assert(aVersion == 2L, s"loser must retry onto the next slot, got v$aVersion")

    assert(Storage.currentVersion(table).contains(2L))
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("k", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(1L -> "a", 2L -> "B2", 3L -> "C2", 4L -> "d"),
      s"both writers' buckets must land: $fin")
    // manifest owners: A's bucket at v2, B's at v1, untouched at v0
    val m = Storage.readPartsManifest(table.resolve("v2"))
    assert(m == Map("pbucket=0" -> 0L, "pbucket=1" -> 1L,
      "pbucket=2" -> 2L, "pbucket=3" -> 0L), m.toString)
    // time travel across the interleave still reads B's snapshot
    assert(Storage.readPartitionedVersionAt(spark, table, 1L)
      .filter(col("k") === 3L).select("attr").head.getString(0) == "c")
  }

  test("three unsynchronized disjoint writers all land, any interleaving") {
    // no gates: the threads race freely — whatever CAS order the host
    // produces, the disjoint-retry path must land all three (retries up
    // to MaxCommitAttempts absorb repeated losses)
    val table = Files.createTempDirectory("occ_three").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 0), (2L, "b", 1), (3L, "c", 2), (4L, "d", 3)),
      table, "pbucket", keepVersions = 8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(1, 2, 3).map { b =>
      new Thread(() => {
        try Storage.commitPartitions(
          bucketRows((b + 1L, s"W$b", b)), table, "pbucket", keepVersions = 8)
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"all disjoint writers must land: ${errs.peek()}")
    assert(Storage.currentVersion(table).contains(3L), "three commits expected")
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("k", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(1L -> "a", 2L -> "W1", 3L -> "W2", 4L -> "W3"), fin.toString)
  }

  test("overlapping concurrent commitPartitions: the rename loser aborts loudly, no silent clobber") {
    import java.nio.file.{Files => F}
    val table = Files.createTempDirectory("occ_overlap").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 0), (2L, "b", 1)), table, "pbucket", keepVersions = 4)

    val gate = s"occ_overlap_${System.nanoTime()}"
    @volatile var aError: Throwable = null
    val a = new Thread(() => {
      try Storage.commitPartitions(
        gated(bucketRows((2L, "FROM_A", 1)), gate), table, "pbucket", keepVersions = 4)
      catch { case t: Throwable => aError = t }
    })
    a.start()
    awaitStaging(table)
    assert(Storage.commitPartitions(
      bucketRows((2L, "FROM_B", 1)), table, "pbucket", keepVersions = 4) == 1L)
    PartitionedStorageSpec.gates.get(gate).countDown()
    a.join(180000)
    assert(aError.isInstanceOf[java.util.ConcurrentModificationException],
      s"overlap must abort the loser, got: $aError")
    // winner's write is intact, loser left no version and no staging litter
    assert(Storage.currentVersion(table).contains(1L))
    assert(Storage.readPartitionedVersion(spark, table)
      .filter(col("k") === 2L).select("attr").head.getString(0) == "FROM_B")
    val s = F.list(table)
    try assert(!s.toArray.exists(_.asInstanceOf[java.nio.file.Path]
      .getFileName.toString.startsWith(".staging-")), "staging must be cleaned")
    finally s.close()
  }

  test("overlapping writers WITH a resolver rebase: both updates land serially") {
    val table = Files.createTempDirectory("occ_rebase").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 1), (2L, "b", 1), (9L, "z", 0)),
      table, "pbucket", keepVersions = 4)

    // A's intent: k=1 -> FROM_A in bucket 1. Its resolver re-applies that
    // DELTA on whatever the winner committed for the conflicting bucket.
    val rebase = new Storage.OverlapResolver {
      def recompute(sp: org.apache.spark.sql.SparkSession, t: java.nio.file.Path,
          newBase: Long, conflicting: Set[String]): org.apache.spark.sql.DataFrame =
        Storage.readPartitionedVersionAt(sp, t, newBase, Some(conflicting))
          .withColumn("attr", when(col("k") === 1L, "FROM_A").otherwise(col("attr")))
    }
    val gate = s"occ_rebase_${System.nanoTime()}"
    @volatile var aError: Throwable = null
    @volatile var aVersion = -1L
    val a = new Thread(() => {
      try aVersion = Storage.commitPartitions(
        gated(bucketRows((1L, "FROM_A", 1), (2L, "b", 1)), gate),
        table, "pbucket", keepVersions = 4, onOverlap = Some(rebase))
      catch { case t: Throwable => aError = t }
    })
    a.start()
    awaitStaging(table)
    // winner B updates k=2 in the SAME bucket
    assert(Storage.commitPartitions(
      bucketRows((1L, "a", 1), (2L, "FROM_B", 1)),
      table, "pbucket", keepVersions = 4) == 1L)
    PartitionedStorageSpec.gates.get(gate).countDown()
    a.join(180000)
    assert(aError == null, s"resolver-armed loser must rebase and land, got: $aError")
    assert(aVersion == 2L, s"rebased commit must take the next slot, got v$aVersion")

    // serial outcome: B's update survived, A's delta applied on top of it
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("k", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(1L -> "FROM_A", 2L -> "FROM_B", 9L -> "z"),
      s"both writers' updates must land: $fin")
    // intermediate state (v1) is the winner's alone — time travel shows it
    assert(Storage.readPartitionedVersionAt(spark, table, 1L)
      .filter(col("k") === 1L).select("attr").head.getString(0) == "a")
  }

  /** Like [[gated]], but parks ONLY while a `.staging-` dir exists at the
    * table — i.e. only the evaluation happening inside commitPartitions'
    * data write, AFTER the commit pinned its base. The upsert evaluates
    * its incoming frame several times before committing (bucket probes,
    * change detection); gating those would release the writer BEFORE it
    * resolves its base, so it would simply read the winner's state and no
    * conflict would ever occur. */
  private def gatedWhenStaging(df: org.apache.spark.sql.DataFrame,
      key: String, tableDir: String): org.apache.spark.sql.DataFrame = {
    PartitionedStorageSpec.gates.putIfAbsent(key, new java.util.concurrent.CountDownLatch(1))
    df.mapPartitions { it =>
      val p = java.nio.file.Paths.get(tableDir)
      val inStaging = java.nio.file.Files.isDirectory(p) && {
        val s = java.nio.file.Files.list(p)
        try s.toArray.exists(_.asInstanceOf[java.nio.file.Path]
          .getFileName.toString.startsWith(".staging-"))
        finally s.close()
      }
      if (inStaging) PartitionedStorageSpec.gates.get(key).await()
      it
    }(org.apache.spark.sql.Encoders.row(df.schema))
  }

  test("two pruned upserts on the SAME bucket: the built-in rebase merges both") {
    import graft.ops.MergeOps
    val table = Files.createTempDirectory("occ_upsert").resolve("t")
    def load(rows: Seq[(Long, String)], gate: Option[String] = None): Long = {
      import spark.implicits._
      val df0 = rows.toDF("user_id", "attr")
        .withColumn("loaded_at", lit(null).cast("timestamp"))
        .withColumn("last_upd_at", lit(null).cast("timestamp"))
      val df = gate.fold(df0)(g => gatedWhenStaging(df0, g, table.toString))
      MergeOps.prunedConditionalUpsert(table, df, pk = Seq("user_id"),
        tracked = Seq("attr"), runTs = lit("2024-01-01 00:00:00").cast("timestamp"),
        nParts = 1, keepVersions = 4) // nParts=1: every key shares ONE bucket
    }
    load(Seq(1L -> "a", 2L -> "b"))

    val gate = s"occ_upsert_${System.nanoTime()}"
    @volatile var aError: Throwable = null
    val a = new Thread(() => {
      try load(Seq(1L -> "FROM_A"), gate = Some(gate))
      catch { case t: Throwable => aError = t }
    })
    a.start()
    awaitStaging(table)
    load(Seq(2L -> "FROM_B"))
    PartitionedStorageSpec.gates.get(gate).countDown()
    a.join(120000)
    assert(aError == null, s"upsert loser must rebase via its resolver, got: $aError")
    assert(Storage.currentVersion(table).contains(2L),
      "loser must land on the slot after the winner's")
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("user_id", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // forensics for the rare contended-host interleave where FROM_A goes
    // missing (observed twice in full-suite runs, never standalone): the
    // per-version manifests + bucket contents discriminate a carry-only
    // commit (v2's bucket still owned by v1 ⇒ the loser's change probe
    // saw nothing to do) from a rebase that applied an empty delta (v2
    // owns the bucket ⇒ the resolver's increment evaluated empty)
    if (fin != Map(1L -> "FROM_A", 2L -> "FROM_B")) {
      val dump = (0L to 2L).map { v =>
        val vdir = table.resolve(s"v$v")
        val man = if (java.nio.file.Files.exists(vdir.resolve("_PARTS.json")) ||
            java.nio.file.Files.list(vdir).toArray.nonEmpty)
          scala.util.Try(Storage.readPartsManifest(vdir)).getOrElse(Map.empty)
        else Map.empty[String, Long]
        val rows = scala.util.Try(
          Storage.readPartitionedVersionAt(spark, table, v)
            .select("user_id", "attr").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap).getOrElse(Map.empty)
        s"v$v manifest=$man rows=$rows"
      }.mkString("; ")
      fail(s"concurrent same-bucket upserts must both land: $fin [$dump]")
    }
  }

  test("DV-only winner vs data-rewrite loser: conflict detected, deletes survive the rebase") {
    // ADVICE r11 (high): a DV-only commit moves no manifest entry, so the
    // parts-diff alone is blind to it — a racing rewriter of the same
    // bucket would re-finalize bytes read BEFORE the tombstones existed
    // and shed them via carriedDv, resurrecting GDPR-deleted rows. The
    // DV-diff must join the conflict set, and the rebase (whose read path
    // applies the winner's DV) must land the loser's delta WITHOUT the
    // deleted row.
    val table = Files.createTempDirectory("occ_dv").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 0), (2L, "b", 0), (9L, "z", 1)),
      table, "pbucket", keepVersions = 4)

    // loser A's intent: k=2 -> FROM_A in bucket 0; resolver re-applies
    // the delta on the winner's state (read DV-applied)
    val rebase = new Storage.OverlapResolver {
      def recompute(sp: org.apache.spark.sql.SparkSession, t: java.nio.file.Path,
          newBase: Long, conflicting: Set[String]): org.apache.spark.sql.DataFrame =
        Storage.readPartitionedVersionAt(sp, t, newBase, Some(conflicting))
          .withColumn("attr", when(col("k") === 2L, "FROM_A").otherwise(col("attr")))
    }
    val gate = s"occ_dv_${System.nanoTime()}"
    @volatile var aError: Throwable = null
    @volatile var aVersion = -1L
    val a = new Thread(() => {
      try aVersion = Storage.commitPartitions(
        gated(bucketRows((1L, "a", 0), (2L, "FROM_A", 0)), gate),
        table, "pbucket", keepVersions = 4, onOverlap = Some(rebase))
      catch { case t: Throwable => aError = t }
    })
    a.start()
    awaitStaging(table)
    // winner: DV-only takedown of k=1 (same bucket, no manifest move) —
    // coordinates located exactly as deleteWithVectors does
    val hit = Storage.readPartitionedLineage(spark, table, Some(Set("pbucket=0")))
      .filter(col("k") === 1L).select(col("__dv_file"), col("__dv_pos")).head
    assert(Storage.commitPartitions(
      Storage.readPartitionedVersion(spark, table).limit(0), table, "pbucket",
      keepVersions = 4, deletionVector = Map(hit.getString(0) -> Seq(hit.getLong(1)))) == 1L)
    assert(Storage.deletionVector(table).nonEmpty,
      "fixture must produce a DV-only winner commit")
    PartitionedStorageSpec.gates.get(gate).countDown()
    a.join(120000)
    assert(aError == null, s"loser must detect the DV conflict and rebase, got: $aError")
    assert(aVersion == 2L, s"rebased commit must take the next slot, got v$aVersion")
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("k", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(2L -> "FROM_A", 9L -> "z"),
      s"the rebase must keep the winner's delete AND apply the loser's update: $fin")
    // the winner's intermediate state is intact under time travel
    assert(Storage.readPartitionedVersionAt(spark, table, 1L)
      .select("k").collect().map(_.getLong(0)).toSet == Set(2L, 9L))
  }

  test("expireParts: TTL drops aged buckets as pure metadata — doomed bytes are never opened") {
    val table = Files.createTempDirectory("ttl").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "old", 0), (2L, "old", 1), (3L, "new", 2), (4L, "new", 3)),
      table, "pbucket", keepVersions = 4)
    // corrupt the to-be-expired buckets' bytes FIRST: the expiry and every
    // later read must succeed without opening them
    Seq(0, 1).foreach { b =>
      val s = Files.list(table.resolve("v0").resolve(s"pbucket=$b"))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.write(f, "GARBAGE".getBytes("UTF-8")))
      finally s.close()
    }
    val v = Storage.expireParts(spark, table,
      keep = p => p.stripPrefix("pbucket=").toInt >= 2, keepVersions = 4)
    assert(v == 1L)
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("k", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(3L -> "new", 4L -> "new"), fin.toString)
    assert(Storage.readPartsManifest(table.resolve("v1")).keySet ==
      Set("pbucket=2", "pbucket=3"))
    // nothing due → no-op, no version burned
    assert(Storage.expireParts(spark, table,
      keep = _ => true, keepVersions = 4) == 1L)
    assert(Storage.currentVersion(table).contains(1L))
  }

  // ---- type-widening evolution (round 13): an existing column may widen
  // along the lossless lattice (int→long, float→double, decimal precision
  // up); carried buckets keep their narrow physical files and every read
  // casts to the declared type — the protocol's typeWidening feature. ----

  test("type widening: int→long and float→double across carried buckets; reads cast, history keeps its own types") {
    import spark.implicits._
    val table = Files.createTempDirectory("widen").resolve("t")
    // v0: k is INT, x is FLOAT
    Storage.commitPartitions(
      Seq((1, 1.5f, 0), (2, 2.5f, 1)).toDF("k", "x", "pbucket"),
      table, "pbucket", keepVersions = 4)
    // v1 rewrites bucket 1 with WIDE types (long, double); bucket 0 carries
    Storage.commitPartitions(
      Seq((2L, 2.5d, 1), (3L, 3.5d, 1)).toDF("k", "x", "pbucket"),
      table, "pbucket", keepVersions = 4)

    val cur = Storage.readPartitionedVersion(spark, table)
    import org.apache.spark.sql.types.{DoubleType, LongType}
    assert(cur.schema("k").dataType == LongType, cur.schema.simpleString)
    assert(cur.schema("x").dataType == DoubleType, cur.schema.simpleString)
    val rows = cur.select("k", "x").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 1.5, 2L -> 2.5, 3L -> 3.5), rows.toString)

    // the carried bucket's PHYSICAL file is still narrow — only the read
    // widens (no rewrite happened: the manifest still owns it at v0)
    assert(Storage.readPartsManifest(table.resolve("v1")) ==
      Map("pbucket=0" -> 0L, "pbucket=1" -> 1L))
    // time travel returns v0 with ITS declared schema (narrow)
    val at0 = Storage.readPartitionedVersionAt(spark, table, 0L)
    assert(at0.schema("k").dataType == org.apache.spark.sql.types.IntegerType)

    // external-reader path: the per-version log replays to the SAME wide
    // frame (narrow parquet read under a wide schemaString), and declares
    // the typeWidening feature with per-field typeChanges metadata
    val snap = graft.ops.DeltaInterop.readSnapshot(spark, table.resolve("v1"))
    assert(snap.schema("k").dataType == LongType)
    assert(snap.select("k", "x").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap == rows)
    val v1Log = graft.ops.DeltaInterop.readLog(
      graft.ops.DeltaInterop.logFile(table.resolve("v1")))
    assert(v1Log.features.contains("typeWidening"), v1Log.features.toString)
    val declared = v1Log.schema
    assert(declared("k").metadata.contains("delta.typeChanges"),
      declared("k").metadata.json)

    // stickiness: a later commit with NO new widening keeps the feature
    // (bucket 0's narrow files are still live)
    Storage.commitPartitions(
      Seq((3L, 9.5d, 1)).toDF("k", "x", "pbucket").unionByName(
        Seq((2L, 2.5d, 1)).toDF("k", "x", "pbucket")),
      table, "pbucket", keepVersions = 4)
    assert(graft.ops.DeltaInterop.readLog(
      graft.ops.DeltaInterop.logFile(table.resolve("v2"))).features.contains("typeWidening"))

    // narrowing is refused loudly
    val e = intercept[IllegalArgumentException] {
      Storage.commitPartitions(
        Seq((4, 4.5f, 0)).toDF("k", "x", "pbucket"),
        table, "pbucket", keepVersions = 4)
    }
    assert(e.getMessage.contains("widening"), e.getMessage)
  }

  test("type widening: decimal precision up at equal scale; scale change refused") {
    import spark.implicits._
    val table = Files.createTempDirectory("widen_dec").resolve("t")
    def dec(s: String, p: Int, sc: Int) =
      new java.math.BigDecimal(s).setScale(sc)
    val d0 = Seq((1L, dec("12.34", 10, 2), 0), (2L, dec("56.78", 10, 2), 1))
      .toDF("k", "amt", "pbucket")
      .select(col("k"), col("amt").cast("decimal(10,2)").as("amt"), col("pbucket"))
    Storage.commitPartitions(d0, table, "pbucket", keepVersions = 4)
    val d1 = Seq((2L, "999999999999.99", 1)).toDF("k", "amt", "pbucket")
      .select(col("k"), col("amt").cast("decimal(14,2)").as("amt"), col("pbucket"))
    Storage.commitPartitions(d1, table, "pbucket", keepVersions = 4)
    val cur = Storage.readPartitionedVersion(spark, table)
    assert(cur.schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(14, 2), cur.schema.simpleString)
    val got = cur.select("k", "amt").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).toPlainString).toMap
    assert(got == Map(1L -> "12.34", 2L -> "999999999999.99"), got.toString)
    // same precision, different scale: refused (values would shift)
    intercept[IllegalArgumentException] {
      Storage.commitPartitions(
        Seq((3L, "1.234", 0)).toDF("k", "amt", "pbucket")
          .select(col("k"), col("amt").cast("decimal(14,3)").as("amt"), col("pbucket")),
        table, "pbucket", keepVersions = 4)
    }
  }

  // ---- read-snapshot OCC (the TOCTOU the same-bucket race test caught on
  // contended hosts): commitPartitions' rename CAS serializes writers
  // racing the same version SLOT, but a writer whose frames were computed
  // against v(N) can enter AFTER a winner landed v(N+1), target v(N+2),
  // win its rename first-try, and silently revert the winner. `readBase`
  // names the version the inputs were read from; these tests drive the
  // interleave DETERMINISTICALLY (no threads, no gates) by committing the
  // winner between the loser's conceptual read and its commit call. -------

  test("read-snapshot OCC: a commit pinned to a superseded base rebases through its resolver") {
    val table = Files.createTempDirectory("occ_readbase").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 0), (2L, "b", 0), (9L, "z", 1)),
      table, "pbucket", keepVersions = 4)
    // loser's frames are (conceptually) computed here, against v0:
    // it wants k=2 -> LOSER in bucket 0 and believes k=1 is still "a"
    val staleNext = bucketRows((1L, "a", 0), (2L, "LOSER", 0))
    // ...then a winner lands v1 rewriting the SAME bucket: k=1 -> WINNER
    assert(Storage.commitPartitions(
      bucketRows((1L, "WINNER", 0), (2L, "b", 0)),
      table, "pbucket", keepVersions = 4) == 1L)
    // without readBase this commit would take v2 first-try and revert the
    // winner; with it, the entry staleness is detected exactly like a lost
    // rename and the resolver re-applies the loser's delta on v1
    @volatile var resolvedAgainst = -1L
    val rebase = new Storage.OverlapResolver {
      def recompute(sp: org.apache.spark.sql.SparkSession, t: java.nio.file.Path,
          newBase: Long, conflicting: Set[String]): org.apache.spark.sql.DataFrame = {
        resolvedAgainst = newBase
        Storage.readPartitionedVersionAt(sp, t, newBase, Some(conflicting))
          .withColumn("attr", when(col("k") === 2L, "LOSER").otherwise(col("attr")))
      }
    }
    val v = Storage.commitPartitions(staleNext, table, "pbucket",
      keepVersions = 4, onOverlap = Some(rebase), readBase = Some(0L))
    assert(v == 2L, s"rebased commit must take the slot after the winner's, got v$v")
    assert(resolvedAgainst == 1L, "resolver must see the winner's base")
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("k", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(1L -> "WINNER", 2L -> "LOSER", 9L -> "z"),
      s"serial outcome required — the winner's k=1 must survive: $fin")
  }

  test("read-snapshot OCC: winner touching a staleOn bucket outside the write set is a retryable stale read") {
    import java.nio.file.{Files => F}
    val table = Files.createTempDirectory("occ_staleon").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 0), (9L, "z", 1)), table, "pbucket", keepVersions = 4)
    // winner rewrites bucket 0...
    assert(Storage.commitPartitions(
      bucketRows((1L, "WINNER", 0)), table, "pbucket", keepVersions = 4) == 1L)
    // ...the stale commit writes only bucket 1, but DECLARED its decisions
    // depend on bucket 0 too (an upsert change-probe shape): no resolver
    // can fix that bucket-locally → StaleReadException, winner intact
    val e = intercept[Storage.StaleReadException] {
      Storage.commitPartitions(bucketRows((9L, "STALE", 1)), table, "pbucket",
        keepVersions = 4, readBase = Some(0L),
        staleOn = Set("pbucket=0", "pbucket=1"))
    }
    assert(e.getMessage.contains("pbucket=0"), e.getMessage)
    assert(Storage.currentVersion(table).contains(1L), "stale commit must not land")
    assert(Storage.readPartitionedVersion(spark, table)
      .filter(col("k") === 1L).select("attr").head.getString(0) == "WINNER")
    val s = F.list(table)
    try assert(!s.toArray.exists(_.asInstanceOf[java.nio.file.Path]
      .getFileName.toString.startsWith(".staging-")), "staging must be cleaned")
    finally s.close()
  }

  test("read-snapshot OCC: a disjoint span re-finalizes without a resolver; both writers' buckets land") {
    val table = Files.createTempDirectory("occ_readbase_disjoint").resolve("t")
    Storage.commitPartitions(
      bucketRows((1L, "a", 0), (9L, "z", 1)), table, "pbucket", keepVersions = 4)
    assert(Storage.commitPartitions(
      bucketRows((1L, "WINNER", 0)), table, "pbucket", keepVersions = 4) == 1L)
    // stale-based commit touches ONLY bucket 1 and declares nothing else —
    // the span diff finds no overlap, so the staged bytes re-finalize onto
    // the winner's base (the disjoint-retry path, entered from the front
    // door instead of a lost rename)
    val v = Storage.commitPartitions(bucketRows((9L, "LOSER", 1)), table, "pbucket",
      keepVersions = 4, readBase = Some(0L))
    assert(v == 2L)
    val fin = Storage.readPartitionedVersion(spark, table)
      .select("k", "attr").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin == Map(1L -> "WINNER", 9L -> "LOSER"), fin.toString)
    val m = Storage.readPartsManifest(table.resolve("v2"))
    assert(m == Map("pbucket=0" -> 1L, "pbucket=1" -> 2L), m.toString)
  }

  test("read-snapshot OCC: a vacuumed readBase cannot be diffed — retryable, never a backward pointer") {
    val table = Files.createTempDirectory("occ_readbase_vacuumed").resolve("t")
    // keepVersions=1 and full rewrites: each commit leaves the previous
    // version unreferenced, so v0 is swept by the time v2 lands
    Storage.commitPartitions(bucketRows((1L, "a", 0)), table, "pbucket")
    Storage.commitPartitions(bucketRows((1L, "b", 0)), table, "pbucket")
    Storage.commitPartitions(bucketRows((1L, "c", 0)), table, "pbucket")
    assert(!java.nio.file.Files.exists(table.resolve("v0").resolve("_PARTS.json")),
      "fixture: v0 must be vacuumed for this test to bite")
    intercept[Storage.StaleReadException] {
      Storage.commitPartitions(bucketRows((1L, "STALE", 0)), table, "pbucket",
        readBase = Some(0L))
    }
    // the pointer never moved backwards and the table is undamaged
    assert(Storage.currentVersion(table).contains(2L))
    assert(Storage.readPartitionedVersion(spark, table)
      .select("attr").head.getString(0) == "c")
  }
}

object PartitionedStorageSpec {
  val gates = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CountDownLatch]()
}
