package graft.ops

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table storage with transaction-like replacement semantics (SURVEY.md §2.7
  * M4): the reference wraps its SCD2 close+insert in `BEGIN…COMMIT`
  * (dwh_dim_character.py:53,116). Parquet has no cross-statement
  * transactions, so the equivalent is: write the next state into a staging
  * directory, rename it into place as version `v<N>`, then swap the
  * `_LATEST` pointer. Readers see the old state or the new state, never a
  * mix. Each version's `_delta_log` is the one record of its files, their
  * stats and their deletion vectors; on a real deployment the same call
  * sites map 1:1 onto Delta/Iceberg MERGE commits.
  *
  * Scale note: the promote is a metadata operation — cost is independent of
  * table size; the write is the usual distributed parquet write.
  */
object Storage {

  // ---- versioned commit log ----------------------------------------------
  //
  // Swapping whole directories would give CONCURRENT readers a
  // path-not-found window mid-swap. The commit log is the minimal form of
  // the Delta/Iceberg idea instead — never move data directories at all.
  // Each commit writes a brand-new immutable version directory `v<N>` and
  // then atomically swaps a one-line pointer file `_LATEST`. Readers resolve
  // the pointer and read that directory: they see the old version or the new
  // version, never a missing path, and a long-running scan that resolved
  // `v3` keeps reading `v3` even while `v4` commits underneath it (snapshot
  // isolation for the duration of the job). Old versions are vacuumed only
  // AFTER the pointer moves on, with a keep-window for in-flight readers.
  //
  // Commit cost is one small-file write + one rename — metadata-only,
  // independent of table size.
  //
  // CONCURRENT WRITERS (lost-update guard): data is written to a unique
  // staging directory, then promoted with an atomic rename to `v<N>` —
  // POSIX rename fails when the target exists, so of two committers racing
  // to the same version number exactly ONE rename succeeds and the loser
  // throws instead of silently clobbering (on an object-store deployment
  // the same promote maps onto a conditional PUT / If-None-Match). The
  // pointer is only ever swapped by the rename winner. A crash AFTER the
  // promote but before the pointer swap leaves a committed-but-unpointed
  // `v<N>` that later commits CANNOT distinguish from an in-flight
  // concurrent commit, so they fail loudly; [[repairOrphans]] is the
  // explicit single-writer-startup recovery (PipelineRunner and the
  // streaming sinks run it before their first commit).

  private val Latest = "_LATEST"
  private val PartsManifest = "_PARTS.json"
  // "skip the footer pass" sentinel for DeltaInterop.writeCommit0, whose
  // footerStats param treats None as "compute it yourself" — Some(empty)
  // is the only way to say "no stats" (protocol-legal: Delta adds may
  // omit stats; readers conservatively keep statless files)
  private val NoFileStats =
    Some(Map.empty[String, (Long, Map[String, (String, String, String)], Map[String, Long])])
  private val Retention = "_RETENTION"
  // clone-retention pin at a SOURCE table root (`_PIN.v<V>.<id>`): vacuum
  // never sweeps a pinned version — a shallow clone's metadata still
  // references its bytes. Released when the clone version dir carrying the
  // matching `_CLONE_SOURCE.json` is itself deleted (the clone was
  // rewritten or purged), or explicitly via [[dropClonePin]].
  private val ClonePin = "_PIN"
  private val CloneSource = "_CLONE_SOURCE.json"
  // vacuum sweeps only this many version slots below the keep window, so a
  // commit's filesystem work is O(keepVersions + window), not O(history)
  private val VacuumSweep = 64L

  // ---- table-level retention ---------------------------------------------
  //
  // Retention is a TABLE property, not a per-commit argument: the
  // effective keep-window of every commit is max(its keepVersions, the
  // persisted high-water mark). Without this, one commit through any
  // path still defaulting keepVersions=1 (a GDPR delete, a manual
  // compaction) would sweep the change-feed tail every other writer was
  // paying to retain — the destructive case must not be the silent
  // default path. The mark only ratchets UP implicitly; lowering it is
  // the explicit [[setRetention]] call.

  // The mark is the MAX over `_RETENTION.<k>` marker files. Ratcheting UP
  // is ONE atomic file create — no read-modify-write for concurrent
  // writers (explicitly supported by the CAS commit design) to race: two
  // commits declaring 8 and 5 leave both markers and every reader sees 8.
  // Only the explicit [[setRetention]] deletes higher markers to lower it.

  private def retentionMarks(table: Path): Seq[Int] =
    if (!Files.isDirectory(table)) Nil
    else {
      val s = Files.list(table)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .collect { case n if n.startsWith(Retention + ".") =>
          n.stripPrefix(Retention + ".").toInt }.toSeq
      finally s.close()
    }

  /** The table's keep-window high-water mark (1 if never set). */
  def tableRetention(table: Path): Int = retentionMarks(table).maxOption.getOrElse(1)

  /** Set the table's keep-window. RAISING it is what any commit's
    * `keepVersions` does implicitly (atomic marker create — monotone
    * under concurrency); LOWERING it deletes the higher markers and is
    * only legitimate from this explicit call (e.g. [[purgeHistory]]). */
  def setRetention(table: Path, keepVersions: Int): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    Files.createDirectories(table)
    writeRetentionMark(table, keepVersions)
    retentionMarks(table).filter(_ > keepVersions)
      .foreach(k => Files.deleteIfExists(table.resolve(s"$Retention.$k")))
  }

  private def writeRetentionMark(table: Path, k: Int): Unit =
    if (k > 1)
      try Files.write(table.resolve(s"$Retention.$k"), Array.empty[Byte],
        java.nio.file.StandardOpenOption.CREATE_NEW)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }

  private def effectiveKeep(table: Path, keepVersions: Int): Int = {
    writeRetentionMark(table, keepVersions)
    math.max(keepVersions, tableRetention(table))
  }

  // ---- bucket-geometry marker --------------------------------------------
  //
  // Every pruned operator (upsert/delete/SCD2) derives its candidate
  // buckets from `nParts`; a call with a DIFFERENT value than the table
  // was laid out with hashes keys into the wrong buckets, reads the wrong
  // files, concludes rows are absent, and silently duplicates them. The
  // layout therefore self-describes: the first pruned write records its
  // geometry in `_GEOMETRY.json`, every later call validates against it,
  // and [[rebucket]] is the one legitimate writer of a new value.

  private val GeometryFile = "_GEOMETRY.json"

  /** The table's recorded bucket geometry. The CURRENT version directory's
    * in-commit marker wins (it changed atomically with the data — rebucket
    * installs it, every later commit carries it forward); the table-root
    * marker is the bootstrap/legacy fallback. */
  def declaredGeometry(table: Path): Option[Int] = {
    val inCommit = currentVersion(table)
      .map(v => table.resolve(s"v$v").resolve(GeometryFile))
      .filter(Files.exists(_))
      .flatMap(parseGeometry)
    inCommit.orElse(parseGeometry(table.resolve(GeometryFile)))
  }

  private def parseGeometry(f: Path): Option[Int] =
    if (!Files.exists(f)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(new String(Files.readAllBytes(f), "UTF-8")) \ "nParts" match {
        case JInt(n)  => Some(n.toInt)
        case JLong(n) => Some(n.toInt)
        case _        => None
      }
    }

  private[graft] def geometryJson(nParts: Int): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(JObject("nParts" -> JInt(nParts))))
  }

  /** Validate the caller's `nParts` against the recorded geometry, or —
    * for a table that predates the marker or is brand-new — adopt it.
    * Adoption on a table with committed state sanity-checks the manifest:
    * a bucket id at or beyond the claimed geometry proves the claim wrong
    * (the reverse direction — claiming MORE buckets than the true layout —
    * is undetectable from names alone; adoption necessarily trusts the
    * caller there, which is still strictly safer than the pre-marker
    * status quo of trusting every call). */
  private[graft] def validateGeometry(table: Path, nParts: Int): Unit =
    declaredGeometry(table) match {
      case Some(n) => require(n == nParts,
        s"$table is laid out with nParts=$n but this call passed " +
          s"nParts=$nParts — pruning would read the wrong buckets and " +
          "silently duplicate keys; pass the recorded geometry or run " +
          "Storage.rebucket to change it")
      case None =>
        currentVersion(table).map(v => table.resolve(s"v$v"))
          .filter(d => Files.exists(d.resolve(PartsManifest)))
          .foreach { vdir =>
            val ids = readPartsManifest(vdir).keySet
              .flatMap(_.split("=", 2) match {
                case Array(_, i) => i.toIntOption
                case _ => None
              })
            val tooBig = ids.filter(_ >= nParts)
            require(tooBig.isEmpty,
              s"adopting nParts=$nParts at $table, but the committed " +
                s"manifest holds bucket id(s) ${tooBig.toSeq.sorted.take(3).mkString(", ")} " +
                s">= $nParts — the table was laid out with a larger geometry")
          }
        adoptGeometry(table, nParts)
    }

  /** First-write adoption of the table-root marker, made ATOMIC: the move
    * deliberately omits REPLACE_EXISTING, so of two concurrent first
    * writers racing to adopt DIFFERENT geometries exactly one install
    * wins — the loser re-reads the winner's value and fails the same
    * mismatch check a later writer would have hit. Without this the race
    * was check-then-set: both read None, both adopted, and (their bucket
    * names being disjoint under different hash geometries) both commits
    * landed — the mixed-geometry silent key duplication the marker exists
    * to prevent. [[setGeometry]] (REPLACE_EXISTING) remains the separate
    * path for [[rebucket]], the one legitimate overwriter. */
  private def adoptGeometry(table: Path, nParts: Int): Unit = {
    Files.createDirectories(table)
    val tmp = table.resolve(s".$GeometryFile-${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, geometryJson(nParts).getBytes("UTF-8"))
    try Files.move(tmp, table.resolve(GeometryFile), StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException
          | _: java.nio.file.FileSystemException
          if Files.exists(table.resolve(GeometryFile)) =>
        Files.deleteIfExists(tmp)
        val won = parseGeometry(table.resolve(GeometryFile))
        require(won.contains(nParts),
          s"$table adopted nParts=${won.getOrElse("?")} from a concurrent " +
            s"first writer while this call passed nParts=$nParts — mixed " +
            "geometries would silently duplicate keys; pass the adopted " +
            "geometry or run Storage.rebucket to change it")
    }
  }

  private[graft] def setGeometry(table: Path, nParts: Int): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    Files.createDirectories(table)
    val tmp = table.resolve(s".$GeometryFile-${java.util.UUID.randomUUID}.tmp")
    Files.write(tmp, JsonMethods.compact(JsonMethods.render(
      JObject("nParts" -> JInt(nParts)))).getBytes("UTF-8"))
    Files.move(tmp, table.resolve(GeometryFile), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The committed version number, or None for an empty/new table. */
  def currentVersion(table: Path): Option[Long] = {
    val ptr = table.resolve(Latest)
    if (Files.exists(ptr))
      Some(new String(Files.readAllBytes(ptr), "UTF-8").trim.stripPrefix("v").toLong)
    else None
  }

  /** Commit `next` as the new version of `table`; returns the new version
    * number. `keepVersions` older versions are retained for in-flight
    * readers before vacuum. Fails with `ConcurrentModificationException`
    * if another writer commits the same version first (see the CAS notes
    * above). The version's Delta log records every data file with its
    * per-file stats ([[MetaAgg]] prunes and aggregates from them).
    *
    * `extraFiles` (name → content, names must be hidden: `_`/`.` prefix)
    * land INSIDE the staging dir before the atomic promote — transaction
    * metadata that commits or vanishes WITH the data (the Delta `txn`
    * action's role: e.g. the applied-source-version marker that makes a
    * change-feed consumer's apply idempotent).
    *
    * `fileStats = false` skips the per-file min/max footer pass (the log's
    * adds carry no stats — protocol-legal): stats exist for FILE
    * SKIPPING, which buys nothing on a small hot table
    * committed every micro-batch; readers conservatively keep statless
    * files, and scheduled compaction (which commits with stats) restores
    * skipping. Leave it on for any table a selective scan reads. */
  def commitVersion(next: DataFrame, table: Path, keepVersions: Int = 1,
      extraFiles: Map[String, String] = Map.empty,
      fileStats: Boolean = true): Long = {
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    Files.createDirectories(table)
    requireVersionedLayout(table) // same guard as readVersionOr, write side
    val keep = effectiveKeep(table, keepVersions)
    val v = currentVersion(table).getOrElse(-1L) + 1
    val staging = newStaging(table, v)
    Prof.time("commitVersion.write")(
      next.write.mode("overwrite").parquet(staging.toString))
    // one footer pass feeds both Delta logs (per-version and table-level)
    val footerStats =
      if (fileStats) Some(Prof.time("commitVersion.footerStats")(
        readFooterStats(next.sparkSession, staging)))
      else NoFileStats
    val adds = Prof.time("commitVersion.writeCommit0")(
      DeltaInterop.writeCommit0(next.sparkSession, staging, next.schema, Nil,
        footerStats = footerStats))
    extraFiles.foreach { case (name, content) =>
      require(name.startsWith("_") || name.startsWith("."),
        s"extra file '$name' must be hidden ('_'/'.' prefix) or Spark would list it as data")
      Files.write(staging.resolve(name), content.getBytes("UTF-8"))
    }
    // replay the previous table-log state BEFORE the CAS window: the only
    // work between rename and pointer swap is then one JSON write, so a
    // waiting rename loser is never stalled behind state reconstruction
    val prevState = Prof.time("commitVersion.replayState")(
      DeltaInterop.replayState(table, v - 1))
    var deferredCkpt: Option[() => Unit] = None
    Prof.time("commitVersion.promote+log")(
      casPromote(table, staging, v, beforePointerSwap = () =>
        deferredCkpt = DeltaInterop.appendTableCommit(table, v,
          next.schema, Nil, adds.map(a => a.copy(path = s"v$v/${a.path}")), prevState)))
    // checkpoint cut AFTER the pointer lands: a driver-side parquet write,
    // but O(live files) — outside the swap window writers wait on
    Prof.time("commitVersion.checkpoint")(deferredCkpt.foreach(_.apply()))
    // re-read the mark: an operator may have RAISED retention while the
    // (slow) data write ran — vacuuming with the stale value would sweep
    // the newly-declared window
    Prof.time("commitVersion.vacuum")(
      vacuum(table, v, math.max(keep, tableRetention(table)), referenced = Set.empty))
    v
  }

  /** Whether retained version `v` of a partition-manifested table can still
    * serve as a change-feed base (its manifest survives vacuum). A consumer
    * that lagged past retention gets `false` and must re-bootstrap. */
  def partitionManifestRetained(table: Path, v: Long): Boolean =
    v >= 0 && Files.exists(table.resolve(s"v$v").resolve(PartsManifest))

  /** Atomic staging→`v<N>` promote + pointer swap. The rename is the
    * compare-and-swap: it fails if `v<N>` already exists, so a racing
    * writer loses loudly instead of clobbering. `beforePointerSwap` runs
    * between the two (the table-level Delta-log append): writers serialize
    * through the pointer, so at most one in-flight log entry can sit above
    * the committed pointer after a crash — repairOrphans truncates it. */
  private def casPromote(table: Path, staging: Path, v: Long,
      beforePointerSwap: () => Unit = () => ()): Unit = {
    val dir = table.resolve(s"v$v")
    // inline move (not tryRename) so the CME carries the filesystem-level
    // cause — the message on this path is operator-facing diagnostics
    try Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException if Files.exists(dir) =>
        deleteRecursively(staging)
        throw new java.util.ConcurrentModificationException(
          s"lost update committing v$v at $table: the version directory " +
            "already exists — another writer won the race, or a crashed " +
            "commit left an unpointed orphan (single-writer recovery: " +
            "Storage.repairOrphans(table))", e)
    }
    beforePointerSwap()
    swapPointer(table, v)
  }

  /** The CAS half alone: staging→`v<N>`, false when the slot is already
    * taken — the STAGING DIRECTORY IS KEPT so the caller can re-finalize
    * and retry the next slot (the disjoint-writer path). */
  private def tryRename(table: Path, staging: Path, v: Long): Boolean = {
    val dir = table.resolve(s"v$v")
    try { Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE); true }
    catch {
      case _: java.nio.file.FileSystemException if Files.exists(dir) => false
    }
  }

  private def swapPointer(table: Path, v: Long): Unit = {
    val tmp = table.resolve(s"$Latest.tmp-${java.util.UUID.randomUUID}")
    Files.write(tmp, s"v$v".getBytes("UTF-8"))
    Files.move(tmp, table.resolve(Latest), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** How long a rename loser waits for the winner's `_LATEST` swap before
    * concluding the winner crashed. The winner's rename→swap window is one
    * JSON write (state replay and the checkpoint cut both run OUTSIDE it),
    * so the swap normally lands in milliseconds — but the deadline is
    * deliberately generous and overridable (`graft.storage.pointerWaitMs`):
    * a spurious timeout's error message points the operator at
    * repairOrphans, and running THAT while the winner is merely slow would
    * delete the winner's live commit. */
  private def pointerWaitMs: Long =
    sys.props.get("graft.storage.pointerWaitMs").flatMap(_.toLongOption)
      .getOrElse(60000L)

  /** Block until `_LATEST` reaches `v` — a rename loser knows `v<N>` exists,
    * and its owner swaps the pointer right after the (single-JSON-write)
    * table-log append, so the wait is normally milliseconds. A pointer that
    * never arrives means a crashed commit's unpointed orphan: fail loudly
    * toward repairOrphans rather than guess. */
  private def awaitPointerAtLeast(table: Path, v: Long): Long = {
    val deadline = System.nanoTime() + pointerWaitMs * 1000 * 1000
    var cur = currentVersion(table)
    while (!cur.exists(_ >= v)) {
      if (System.nanoTime() > deadline)
        throw new java.util.ConcurrentModificationException(
          s"v$v exists at $table but _LATEST did not reach it within " +
            s"${pointerWaitMs}ms — EITHER a crashed commit's unpointed " +
            "orphan, OR a live writer slower than the deadline (raise " +
            "-Dgraft.storage.pointerWaitMs). Storage.repairOrphans(table) " +
            "recovers the crash case but is ONLY safe when no writer is " +
            "live: it deletes any version above the pointer, including a " +
            "slow winner's just-renamed commit")
      Thread.sleep(10)
      cur = currentVersion(table)
    }
    cur.get
  }

  /** Bound on disjoint-writer retry rounds before giving up (each round is
    * one lost CAS + one metadata re-finalize — data is never rewritten). */
  private val MaxCommitAttempts = 10

  private def newStaging(table: Path, v: Long): Path =
    table.resolve(s".staging-v$v-${java.util.UUID.randomUUID}")

  /** Vacuum versions strictly older than the keep-window — but only a
    * bounded sweep below it (O(keepVersions + [[VacuumSweep]]) per commit,
    * independent of table history), and never a version still referenced
    * by a partition manifest. A reader that resolved its directory just
    * before this commit still has it. */
  private def vacuum(table: Path, v: Long, keepVersions: Int, referenced: Set[Long]): Unit = {
    val pinned = pinnedVersions(table)
    (math.max(0L, v - keepVersions - VacuumSweep) until (v - keepVersions))
      .filterNot(referenced.contains)
      .filterNot(pinned.contains)
      .foreach(o => dropVersionDir(table, o))
  }

  // ---- shallow-clone retention pins ---------------------------------------

  /** Version numbers of `table` pinned against vacuum by live shallow
    * clones (`_PIN.v<V>.<id>` markers at the table root). */
  private[graft] def pinnedVersions(table: Path): Set[Long] =
    if (!Files.isDirectory(table)) Set.empty
    else {
      val s = Files.list(table)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .collect { case n if n.startsWith(ClonePin + ".v") =>
          n.stripPrefix(ClonePin + ".v").takeWhile(_.isDigit) }
        .filter(_.nonEmpty).map(_.toLong).toSet
      finally s.close()
    }

  /** Drop one clone-retention pin at a SOURCE table. Normally automatic
    * (the pin releases when the clone version dir that placed it is
    * deleted); the explicit form recovers from a clone removed outside
    * the commit paths (`rm -rf` of the clone table). */
  def dropClonePin(src: Path, pinName: String): Unit = {
    require(pinName.startsWith(ClonePin + "."), s"not a clone pin: $pinName")
    Files.deleteIfExists(src.resolve(pinName))
  }

  /** Delete a version dir, first releasing any clone pin its
    * `_CLONE_SOURCE.json` provenance holds on the source table — the pin
    * lives exactly as long as the version dir whose metadata references
    * the source's bytes. */
  private def dropVersionDir(table: Path, v: Long): Unit = {
    val dir = table.resolve(s"v$v")
    val prov = dir.resolve(CloneSource)
    if (Files.exists(prov)) {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      try {
        val j = JsonMethods.parse(new String(Files.readAllBytes(prov), "UTF-8"))
        (j \ "source", j \ "pin") match {
          case (JString(srcRoot), JString(pin)) =>
            Files.deleteIfExists(Paths.get(srcRoot).resolve(pin))
          case _ => ()
        }
      } catch { case _: Throwable => () } // pin release is best-effort
    }
    deleteRecursively(dir)
  }

  /** Zero-copy shallow clone: commit `dst` v0 as a METADATA-ONLY version
    * whose Delta log references `src`'s current files by absolute URI —
    * Delta's shallow-clone shape, which [[DeltaInterop.readSnapshot]] and
    * every log-driven reader already resolve. No data bytes move: cost is
    * O(files) driver-side metadata, independent of table size — the
    * dev/test-branch operation a 100 TB table can afford.
    *
    * Carried per-add deletion-vector descriptors and per-file stats ride
    * along, so a clone of a merge-on-read table serves post-delete rows
    * and metadata-only aggregates keep working. The clone is REPLACE-style
    * regardless of the source's layout (its first own [[commitVersion]]
    * writes real bytes and drops every source reference — copy-on-first-
    * write); partition-pruned writes resume only after a fresh
    * partitioned bootstrap.
    *
    * Source-retention contract: the clone records a pin
    * (`_PIN.v<V>.<id>`) at `src` that vacuum honors, released
    * automatically when the clone's v0 dir is itself vacuumed or purged
    * (i.e. once the clone owns all its bytes), or explicitly via
    * [[dropClonePin]]. An abandoned never-rewritten clone holds its pin —
    * the same documented hazard as Delta shallow clones vs VACUUM.
    *
    * Cites /root/reference/dags/configure.py:22-52 for the layered-schema
    * context; the clone operation itself is a Spark-native extension
    * (Delta protocol CLONE semantics re-expressed on the commit log). */
  def cloneTable(spark: SparkSession, src: Path, dst: Path,
      keepVersions: Int = 1): Long = {
    val sv = currentVersion(src).getOrElse(
      throw new IllegalStateException(s"no committed version to clone at $src"))
    val svDir = src.resolve(s"v$sv")
    require(currentVersion(dst).isEmpty && !Files.exists(dst.resolve(Latest)),
      s"clone target $dst already has committed state")
    Files.createDirectories(dst)
    requireVersionedLayout(dst)
    // pin BEFORE reading the log so no concurrent src vacuum can sweep the
    // referenced bytes between snapshot and commit
    val pinName = s"$ClonePin.v$sv.${java.util.UUID.randomUUID.toString.take(8)}"
    Files.write(src.resolve(pinName), dst.toAbsolutePath.toString.getBytes("UTF-8"))
    try {
      val snap = DeltaInterop.readLog(DeltaInterop.logFile(svDir))
      val schema = snap.schema
      val abs = snap.adds.map { a =>
        if (a.path.startsWith("file:") || a.path.startsWith("/") || a.path.contains("://")) a
        else a.copy(path = svDir.resolve(a.path).toUri.toString)
      }
      val features = snap.features
      val staging = newStaging(dst, 0)
      Files.createDirectories(staging)
      try {
        DeltaInterop.writeCommit0(spark, staging, schema, snap.partitionColumns,
          carried = abs, footerStats = NoFileStats, extraFeatures = features)
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        Files.write(staging.resolve(CloneSource),
          JsonMethods.compact(JsonMethods.render(JObject(
            "source" -> JString(src.toAbsolutePath.toString),
            "sourceVersion" -> JLong(sv),
            "pin" -> JString(pinName)))).getBytes("UTF-8"))
        var deferredCkpt: Option[() => Unit] = None
        casPromote(dst, staging, 0L, beforePointerSwap = () =>
          deferredCkpt = DeltaInterop.appendTableCommit(dst, 0L, schema,
            snap.partitionColumns, abs, prev = Map.empty,
            extraFeatures = features))
        deferredCkpt.foreach(_.apply())
        effectiveKeep(dst, keepVersions)
        0L
      } catch { case e: Throwable => deleteRecursively(staging); throw e }
    } catch {
      case e: Throwable =>
        if (currentVersion(dst).isEmpty) Files.deleteIfExists(src.resolve(pinName))
        throw e
    }
  }

  /** Single-writer crash recovery: delete version directories ABOVE the
    * committed pointer (promoted but unpointed crash orphans) and stale
    * staging directories. MUST NOT run while another writer is committing —
    * call it from the single writer's startup, before its first commit. */
  def repairOrphans(table: Path): Unit =
    if (Files.isDirectory(table)) {
      val cur = currentVersion(table).getOrElse(-1L)
      val s = Files.list(table)
      val names =
        try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq
        finally s.close()
      names.foreach {
        case n if n.startsWith(".staging-") => deleteRecursively(table.resolve(n))
        case n if n.matches("v\\d+") && n.drop(1).toLong > cur =>
          dropVersionDir(table, n.drop(1).toLong) // releases any clone pin too
        case n if n.startsWith(s"$Latest.tmp") => // crashed pointer-swap litter
          Files.deleteIfExists(table.resolve(n))
        case _ => ()
      }
      // table-level Delta log: truncate entries describing orphan versions
      // (the append runs before the pointer swap, so a crash can leave at
      // most the in-flight commit's entry — and its checkpoint — ahead)
      val logDir = DeltaInterop.tableLogDir(table)
      if (Files.isDirectory(logDir)) {
        val ls = Files.list(logDir)
        val logNames =
          try ls.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq
          finally ls.close()
        logNames.foreach {
          case n if n.matches("\\d{20}\\.json") && n.stripSuffix(".json").toLong > cur =>
            Files.deleteIfExists(logDir.resolve(n))
          case n if n.matches("\\d{20}\\.checkpoint\\.parquet") &&
              n.stripSuffix(".checkpoint.parquet").toLong > cur =>
            Files.deleteIfExists(logDir.resolve(n))
          case n if n.startsWith(".") => deleteRecursively(logDir.resolve(n))
          case _ => ()
        }
        DeltaInterop.demoteLastCheckpoint(table, cur)
      }
    }

  /** Refuse to commit into a directory that exists but is not a versioned
    * layout — writing would nest `v0/` beside stale flat part-files that
    * plain readers double-count and vacuum never removes. Mirrors the
    * read-side guard in [[readVersionOr]]. */
  private def requireVersionedLayout(table: Path): Unit =
    if (Files.isDirectory(table)) {
      val s = Files.list(table)
      val foreign =
        try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
          .filterNot(n => n.matches("v\\d+") || n.startsWith(Latest) ||
            n.startsWith(Retention) || n.startsWith(".staging-") ||
            n == "_delta_log" || n.contains(GeometryFile) ||
            n.startsWith(ClonePin + "."))
        finally s.close()
      require(foreign.isEmpty,
        s"$table exists but is not a versioned table (found: " +
          s"${foreign.take(3).mkString(", ")}) — refusing to commit into it; " +
          "migrate with commitVersion(spark.read.parquet(table), freshPath)")
    }

  /** Whether a version directory holds any VISIBLE entry (data file or
    * partition dir). A shallow clone's metadata-only commit holds none —
    * its state lives behind the Delta log's absolute-URI adds. One shallow
    * listing; no recursion. */
  private def hasDataEntries(dir: Path): Boolean = {
    val s = Files.list(dir)
    try s.toArray.exists { p =>
      val n = p.asInstanceOf[Path].getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    } finally s.close()
  }

  /** Directory-or-log read of one version dir: a dir with data files reads
    * as plain parquet; a data-less dir (shallow clone / metadata-only
    * commit) reads through its Delta log's adds — absolute-URI
    * references into the clone source resolve there, deletion-vector
    * descriptors are subtracted, exactly as an external engine reads it. */
  private def readVersionDir(spark: SparkSession, dir: Path): DataFrame =
    // same immutability argument as the partitioned plan cache above: a
    // committed version dir never changes bytes, so the built plan reuses
    cachedBuild(spark, ("flat", dir.toAbsolutePath.toString,
        Files.getLastModifiedTime(dir).toMillis)) {
      if (!hasDataEntries(dir)) DeltaInterop.readSnapshot(spark, dir)
      else spark.read.parquet(dir.toString)
    }

  /** Read the committed version of a versioned table. The returned frame is
    * pinned to the directory resolved HERE — later commits don't disturb it. */
  def readVersion(spark: SparkSession, table: Path): DataFrame = {
    val v = currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table"))
    readVersionDir(spark, table.resolve(s"v$v"))
  }

  /** Time travel: read a specific retained version (within the commit's
    * `keepVersions` window — vacuumed versions are gone). */
  def readVersionAt(spark: SparkSession, table: Path, v: Long): DataFrame = {
    val dir = table.resolve(s"v$v")
    val cur = currentVersion(table)
    require(Files.exists(dir) && cur.exists(v <= _),
      s"version $v not retained at $table (current=$cur)")
    readVersionDir(spark, dir)
  }

  /** [[readVersion]] with a bootstrap default — the ONLY correct
    * first-run check on a managed table. A directory that exists but is
    * NOT a versioned layout (plain parquet written by another tool, say)
    * fails loudly instead of reading as "never existed" — silently
    * bootstrapping a populated layer from empty loses audit history and
    * restarts SK sequences. */
  def readVersionOr(spark: SparkSession, table: Path, empty: => DataFrame): DataFrame =
    currentVersion(table) match {
      case Some(v) => readVersionDir(spark, table.resolve(s"v$v"))
      case None =>
        if (Files.isDirectory(table)) {
          val s = Files.list(table)
          val foreign =
            try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
              .filterNot(n => n.matches("v\\d+") || n.startsWith(Latest) ||
                n.startsWith(Retention) || n == "_delta_log" ||
                n.contains(GeometryFile) || n.startsWith(ClonePin + "."))
            finally s.close()
          require(foreign.isEmpty,
            s"$table exists but is not a versioned table (found: " +
              s"${foreign.take(3).mkString(", ")}) — refusing to treat it as " +
              "empty; migrate with commitVersion(spark.read.parquet(table), freshPath)")
        }
        empty
    }

  // ---- per-file min/max stats (file skipping) ----------------------------
  //
  // Parquet already carries row-group min/max, but the engine only sees
  // them AFTER listing and opening every file. The commit lifts per-FILE
  // min/max into each add's `stats` in the version's Delta log (read from
  // the freshly written footers — metadata-only, no data pass), so a
  // selective read ([[MetaAgg.readPrunedWhere]]) prunes files before the
  // scan ever lists them into a FileIndex. This is what completes the
  // z-order promise at 100 TB: cluster on the key (ZOrder), then skip whole
  // files by key range.

  /** relative path → (rowCount, column → (typeTag, min, max), column →
    * nullCount); built from parquet footers — metadata-only, no data pass.
    * Walks recursively so partitioned (`col=value/…`) version dirs are
    * covered too; keys are paths relative to `dir` (for a flat dir, just
    * the file name). A column appears in the null-count map only when
    * EVERY chunk recorded numNulls — a partial sum would understate, and
    * the metadata-only aggregate path ([[MetaAgg]]) needs exact-or-absent. */
  private[graft] def readFooterStats(
      spark: SparkSession, dir: Path): Map[String, (Long, Map[String, (String, String, String)], Map[String, Long])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sessionState.newHadoopConf()
    val s = Files.walk(dir)
    val parts =
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(p => p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .sortBy(_.toString).toSeq
      finally s.close()
    // footer opens are independent metadata reads — run them concurrently
    // (a multi-bucket commit otherwise pays one sequential open per file)
    def footerOf(p: Path) = {
      val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toUri), conf)
      val rd = ParquetFileReader.open(in)
      val (rows, cols, nulls) =
        try {
          import scala.jdk.CollectionConverters._
          // A file's column min/max is only usable if EVERY chunk holding
          // values contributed usable stats — a chunk with values but
          // missing/unusable stats (not recorded, or ±Infinity/NaN whose
          // BigDecimal compare would throw and whose JSON is non-standard)
          // POISONS the column for this file: emitting a partial range
          // would make pruning silently skip files containing matching
          // rows. All-null chunks are safely skipped (no values to cover;
          // a range predicate never matches NULL anyway).
          val poisoned = scala.collection.mutable.Set.empty[String]
          val nullsPoisoned = scala.collection.mutable.Set.empty[String]
          val nullsByCol = scala.collection.mutable.Map.empty[String, Long]
          val perChunk = scala.collection.mutable.ListBuffer.empty[(String, String, String, String)]
          def str(v: Any): String = v match {
            case b: Binary => b.toStringUsingUTF8
            case x => x.toString
          }
          for (block <- rd.getFooter.getBlocks.asScala; cc <- block.getColumns.asScala) {
            val tagOpt = cc.getPrimitiveType.getPrimitiveTypeName match {
              case INT32 | INT64 => Some("i")
              case FLOAT | DOUBLE => Some("f")
              case BINARY => Some("s")
              case _ => None // INT96/BOOLEAN/FIXED: not range-prunable here
            }
            tagOpt.foreach { tag =>
              val colName = cc.getPath.toDotString
              val st = cc.getStatistics
              def finite(v: Any) =
                java.lang.Double.isFinite(v.asInstanceOf[Number].doubleValue())
              // null counts track independently of min/max usability: an
              // all-null or ±Inf chunk still knows its numNulls exactly
              if (st == null || !st.isNumNullsSet) nullsPoisoned += colName
              else nullsByCol(colName) = nullsByCol.getOrElse(colName, 0L) + st.getNumNulls
              if (st == null || st.isEmpty)
                poisoned += colName // chunk may hold values but recorded no stats
              else if (!st.hasNonNullValue)
                () // all-null chunk: no values to cover; range predicates never match NULL
              else if (tag == "f" && !(finite(st.genericGetMin) && finite(st.genericGetMax)))
                poisoned += colName // ±Inf/NaN: BigDecimal throws, JSON non-standard
              else
                perChunk += ((colName, tag, str(st.genericGetMin), str(st.genericGetMax)))
            }
          }
          val byCol = perChunk.groupBy(_._1).collect {
            case (c, chunks) if !poisoned.contains(c) =>
              val tag = chunks.head._2
              def ord(x: String): (String, BigDecimal) =
                if (tag == "s") (x, BigDecimal(0)) else ("", BigDecimal(x))
              c -> (tag,
                chunks.map(_._3).minBy(ord),
                chunks.map(_._4).maxBy(ord))
          }
          (rd.getRecordCount, byCol,
            nullsByCol.view.filterKeys(!nullsPoisoned.contains(_)).toMap)
        } finally rd.close()
      val rel = dir.relativize(p)
      (0 until rel.getNameCount).map(rel.getName(_).toString).mkString("/") -> (rows, cols, nulls)
    }
    if (parts.sizeIs <= 1) parts.map(footerOf).toMap
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(parts.map(p => Future(footerOf(p)))), Duration.Inf)
        .toMap
    }
  }

  // ---- partitioned commit log (pruned incremental writes) ----------------
  //
  // A plain commitVersion rewrites the whole table every commit — O(table)
  // write amplification for an incremental load that changes 0.1% of rows.
  // Here a version directory holds ONLY the partitions that commit rewrote;
  // a per-version `_PARTS.json` manifest maps partition-dir name → the
  // version that owns its current bytes. Untouched partitions are committed
  // BY REFERENCE: their bytes are never rewritten, copied, or even listed.
  // Readers union the per-version reads the manifest names; vacuum keeps
  // any version the live manifest still references. Same CAS promote and
  // crash contract as commitVersion.

  private[graft] def readPartsManifest(versionDir: Path): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = versionDir.resolve(PartsManifest)
    if (!Files.exists(p)) Map.empty
    else JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8")) match {
      case JObject(fields) => fields.map {
        case (k, JInt(v)) => k -> v.toLong
        case (k, JLong(v)) => k -> v
        case (k, other) => throw new IllegalStateException(s"bad manifest entry $k -> $other")
      }.toMap
      case _ => Map.empty
    }
  }

  // ---- deletion vectors (merge-on-read deletes) --------------------------
  //
  // A k-row takedown that rewrites every bucket containing a hit pays
  // O(hit buckets) data writes for O(k) logical deletes. The deletion
  // vector is the Delta/Iceberg answer: the `add` of each tombstoned data
  // file carries the protocol's `deletionVector` descriptor (an inline Z85
  // RoaringBitmap of the parquet `_metadata.row_index` positions DELETED
  // from that file, [[DeltaDv]]) in both the per-version and table-level
  // Delta logs, and the protocol action declares the deletion-vectors
  // table feature. The commit is O(k) metadata; EVERY read of the version
  // (readPartitionedVersionAt and everything built on it — upserts, CDF
  // snapshots, time travel) applies the vectors as a broadcast anti-join
  // on (file, row_index), so deleted rows are invisible table-wide without
  // a byte of data rewritten. A rewritten bucket's fresh adds carry no
  // descriptor (the rewrite materialized its deletions); scheduled
  // [[MergeOps.compactDeletionVectors]] clears the rest. External readers
  // replay the same descriptors — post-delete state from `_delta_log`
  // alone, pre-compaction (DeltaInteropSpec proves it via
  // [[DeltaInterop.readTableSnapshot]]).

  /** The descriptors among `adds` (parsed from `versionDir`'s log), keyed
    * by [[DeltaInterop.dvKey]]: table-relative `v<owner>/<part>/<file>`. */
  private def dvDescriptors(versionDir: Path,
      adds: Seq[DeltaInterop.Add]): Map[String, DeltaDv.Descriptor] =
    adds.collect { case a if a.dv.nonEmpty =>
      DeltaInterop.dvKey(versionDir, a.path) -> a.dv.get }.toMap

  private def dvDescriptorsAt(versionDir: Path): Map[String, DeltaDv.Descriptor] =
    dvDescriptors(versionDir, DeltaInterop.readLog(
      DeltaInterop.logFile(versionDir), dvAddsOnly = true).adds)

  /** The deletion vectors of version dir `versionDir`, decoded from its
    * log: `v<owner>/<part>/<file>` → ascending deleted row positions.
    * Empty when none. */
  private[graft] def readDeletionVector(versionDir: Path): Map[String, Seq[Long]] =
    dvDescriptorsAt(versionDir).map { case (f, d) => f -> DeltaDv.rows(d) }

  /** The CURRENT version's deletion vector (empty when none). */
  def deletionVector(table: Path): Map[String, Seq[Long]] =
    currentVersion(table)
      .map(v => readDeletionVector(table.resolve(s"v$v")))
      .getOrElse(Map.empty)

  /** The `col=value` partition-dir segment of a table-relative data-file
    * path (`v3/pbucket=5/part-….parquet` → `pbucket=5`). */
  private[graft] def dvBucketOf(relPath: String): Option[String] =
    relPath.split("/").find(_.contains("="))

  /** Partition-dir names (`col=value`) of the committed version of a
    * partition-manifested table; empty for an uncommitted table or an
    * empty bootstrap commit. Lets callers detect partition collisions
    * BEFORE a commit would overwrite existing bytes. */
  def committedPartitions(table: Path): Set[String] =
    currentVersion(table) match {
      case Some(v) => readPartsManifest(table.resolve(s"v$v")).keySet
      case None => Set.empty
    }

  /** Rebase rule for OVERLAPPING concurrent writers (VERDICT r10 item 4;
    * the reference runs its dimension loads as parallel DAGs,
    * configure.py:387-398). When a [[commitPartitions]] rename loser finds
    * the winner touched partitions it also wrote, the resolver recomputes
    * the loser's NEXT STATE for exactly those partitions against the
    * winner's committed base — typically re-applying the caller's merge
    * delta on the fresh state (what [[MergeOps.prunedConditionalUpsert]]
    * wires in) — and the commit retries with those partitions' staged
    * bytes swapped. Serializable outcome: the loser's merge runs strictly
    * after the winner's. Bounded by the same MaxCommitAttempts budget as
    * the disjoint retry; conflicts on drops or tombstones still abort
    * (they have no merge story). */
  trait OverlapResolver {
    def recompute(spark: SparkSession, table: Path, newBase: Long,
        conflicting: Set[String]): DataFrame
  }

  /** The lossless type-widening lattice (the protocol's typeWidening
    * feature, restricted to conversions that cannot change a value):
    * integral up to long, float→double, decimal precision up at equal
    * scale. int→double is deliberately absent — longs above 2^53 exist. */
  private[ops] def typeWidens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision >= d1.precision
      case _ => false
    }
  }

  /** The protocol's `delta.typeChanges` field metadata: each widening
    * appends a {fromType, toType} record so an external reader knows the
    * narrow physical files under this column are intentional. */
  private def typeChangeMetadata(oldF: org.apache.spark.sql.types.StructField,
      newF: org.apache.spark.sql.types.StructField): org.apache.spark.sql.types.Metadata = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    def deltaName(dt: org.apache.spark.sql.types.DataType): String = dt.catalogString
    val change = new MetadataBuilder()
      .putString("fromType", deltaName(oldF.dataType))
      .putString("toType", deltaName(newF.dataType))
      .build()
    val prior =
      if (oldF.metadata.contains("delta.typeChanges"))
        oldF.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty[Metadata]
    new MetadataBuilder().withMetadata(newF.metadata)
      .putMetadataArray("delta.typeChanges", prior :+ change)
      .build()
  }

  /** Thrown by [[commitPartitions]] when a concurrent commit invalidated
    * decisions the caller computed BEFORE calling (declared via `staleOn`),
    * or when the caller's `readBase` version is no longer retained. Always
    * retryable: re-read the current version, recompute, call again — the
    * pruned writers in [[MergeOps]]/[[Scd2]] do exactly that in a bounded
    * loop. Distinct from ConcurrentModificationException, which means a
    * conflict with no automatic retry story. */
  final class StaleReadException(msg: String) extends RuntimeException(msg)

  /** Bounded stale-read retry for optimistic read-compute-commit writers:
    * re-runs `body` — which must PIN the current version itself and pass it
    * as `readBase` — until it commits or the retry budget drains. Each
    * retry observes a strictly newer version (the exception only fires
    * when one landed), so the loop cannot spin without progress. */
  private[ops] def retryStale[A](table: Path)(body: => A): A = {
    var tries = 0
    while (true) {
      try return body
      catch {
        case e: StaleReadException =>
          tries += 1
          if (tries >= MaxCommitAttempts)
            throw new java.util.ConcurrentModificationException(
              s"gave up after $tries stale-read retries at $table " +
                s"(writer storm) — rerun this load [last: ${e.getMessage}]")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit `next` — which carries ONLY the partitions to rewrite, with
    * `partCol` as a column — as the new version of a partition-manifested
    * table. Partitions absent from `next` keep their existing bytes and are
    * carried forward by manifest reference. Returns the new version.
    *
    * `extraFiles` (name → content, hidden `_`/`.` names only) land inside
    * the staging dir and so commit or vanish WITH the data — same contract
    * as commitVersion's (rebucket's atomic `_GEOMETRY.json` rides here).
    * `dropAbsent` switches to full-replace-per-partition semantics: every
    * previous name this write did not reproduce drops in the same commit
    * (mutually exclusive with `dropParts`; the rebucket shape).
    *
    * `dropParts` removes partitions from the table without rewriting
    * anything (the Delta `remove`-action shape): a partition whose next
    * state is EMPTY writes no directory at all, so "absent from `next`"
    * cannot distinguish carry-forward from delete-everything — the caller
    * must name the emptied partitions explicitly or their old bytes stay
    * live.
    *
    * `deletionVector` adds merge-on-read tombstones: table-root-relative
    * `v<owner>/<part>/<file>` data-file path → row indexes DELETED from
    * it, merged into that file's carried `add.deletionVector` descriptor
    * in the version's Delta log. New entries must target files in buckets
    * this commit CARRIES (a bucket being rewritten materializes its
    * deletions through the DV-applying read path instead); previous
    * tombstones are shed exactly when their bucket's bytes are — rewritten
    * or dropped here. A concurrent winner touching a tombstoned bucket is
    * an overlap conflict, same as touching a written one.
    *
    * `readBase` closes the READ-SNAPSHOT half of the OCC story (the rename
    * CAS alone only serializes writers racing the same version SLOT): the
    * caller names the version its frames were computed against, and a
    * winner that landed between that read and this commit is handled
    * EXACTLY like a lost rename — manifest-diffed over the whole span,
    * rebased through `onOverlap` where possible. Without it, a commit whose
    * inputs were read at v(N) but whose base pins at v(N+1) sails through
    * the CAS first-try and silently reverts the winner (the lost update the
    * same-bucket race test caught on contended hosts: the probe actions
    * materialize the join shuffles, the staging write reuses them, and the
    * window between read and base-pin spans the whole compute).
    *
    * `staleOn` names the buckets whose modification by such a winner
    * invalidates decisions made OUTSIDE the committed frame (change-probe
    * verdicts, delete bookkeeping, DV coordinates): a winner touching one
    * that the resolver cannot rebase bucket-locally throws
    * [[StaleReadException]] — recompute from the new version and retry.
    * `staleOnAny` widens that to EVERY winner-touched bucket, for callers
    * whose pre-commit decisions rest on a global read (the SCD2 surrogate-
    * key high-water mark): any concurrent data movement invalidates them. */
  def commitPartitions(next: DataFrame, table: Path, partCol: String,
      keepVersions: Int = 1, dropParts: Set[String] = Set.empty,
      fileStats: Boolean = true,
      extraFiles: Map[String, String] = Map.empty,
      dropAbsent: Boolean = false,
      deletionVector: Map[String, Seq[Long]] = Map.empty,
      onOverlap: Option[OverlapResolver] = None,
      readBase: Option[Long] = None,
      staleOn: Set[String] = Set.empty,
      staleOnAny: Boolean = false): Long = {
    require(!dropAbsent || dropParts.isEmpty,
      "dropAbsent replaces dropParts — passing both is contradictory")
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    // a leading _/. would write partition dirs Spark's listing treats as
    // hidden — silently invisible data
    require(!partCol.startsWith("_") && !partCol.startsWith("."),
      s"partition column '$partCol' must not start with '_' or '.'")
    Files.createDirectories(table)
    requireVersionedLayout(table)
    val keep = effectiveKeep(table, keepVersions)
    val base = currentVersion(table)
    // the read-snapshot pin: a readBase AHEAD of the pointer is a caller
    // bug; one that vacuum already swept cannot be manifest-diffed, so the
    // caller must recompute (retryable, not fatal)
    readBase.foreach { rb =>
      require(base.exists(rb <= _),
        s"readBase v$rb is ahead of the committed version ($base) at $table")
      if (!Files.exists(table.resolve(s"v$rb").resolve(PartsManifest)))
        throw new StaleReadException(
          s"readBase v$rb is no longer retained at $table — " +
            "recompute from the current version and retry")
    }
    val v = base.getOrElse(-1L) + 1
    val prev = base.map(b => readPartsManifest(table.resolve(s"v$b"))).getOrElse(Map.empty)
    // each base version's Delta log is parsed at most once per commit: it
    // types the declared schema, carries the untouched buckets' adds (with
    // their deletion vectors) forward, and feeds the OCC tombstone diff
    val baseLogs = scala.collection.mutable.Map.empty[Long, DeltaInterop.Snapshot]
    def baseLog(b: Long): DeltaInterop.Snapshot = baseLogs.getOrElseUpdate(b,
      DeltaInterop.readLog(DeltaInterop.logFile(table.resolve(s"v$b"))))
    // The DECLARED schema evolves add-only plus SAFE WIDENING: new columns
    // append; an existing column may widen along the lossless lattice
    // (byte/short/int→long, float→double, decimal precision up at equal
    // scale) — carried buckets keep their narrow physical files and every
    // read path casts to the declared type, exactly the protocol's
    // typeWidening table feature. The frame must COVER every declared
    // column (a rewrite omitting one would silently null that column's
    // values in the rewritten partitions — data loss for what is a caller
    // bug, so it fails loudly instead); NARROWING fails loudly. Dropping a
    // column requires a fresh table. Validated BEFORE the write: both
    // schemas are known without running it. (Re-run against the new base
    // on a disjoint-writer retry: the winner may itself have evolved the
    // declared schema.) Returns the declared schema plus whether this
    // commit widens any column — the Delta logs must then declare the
    // typeWidening feature, and each widened field records the protocol's
    // `delta.typeChanges` metadata so an external reader knows the narrow
    // physical files are intentional.
    def declareAgainst(b: Option[Long]): (org.apache.spark.sql.types.StructType, Boolean) =
      b.map(bb => baseLog(bb).schema) match {
        case None => (next.schema, false)
        case Some(p) =>
          val newFields = next.schema.map(f => f.name -> f).toMap
          val missing = p.map(_.name).filterNot(newFields.contains)
          require(missing.isEmpty,
            s"frame omits declared column(s) ${missing.mkString(", ")}: rewriting " +
              "partitions without them would null their data — evolution is " +
              "add-only (project the columns through, or use a fresh table to drop)")
          val merged = p.map { f =>
            val nf = newFields(f.name)
            if (nf.dataType == f.dataType) f
            else if (typeWidens(f.dataType, nf.dataType))
              nf.copy(metadata = typeChangeMetadata(f, nf))
            else throw new IllegalArgumentException(
              s"column ${f.name} changes type ${f.dataType.simpleString} -> " +
                s"${nf.dataType.simpleString}; only lossless widening is supported " +
                "(byte/short/int→long, float→double, decimal precision up) — " +
                "narrowing or re-typing needs a fresh table")
          }
          val widened = p.exists(f => newFields(f.name).dataType != f.dataType)
          (org.apache.spark.sql.types.StructType(
            merged ++ next.schema.filterNot(f => p.exists(_.name == f.name))), widened)
      }
    val (declared, widenedNow) = declareAgainst(base)
    val staging = newStaging(table, v)
    // A PROVABLY-EMPTY frame (the `.limit(0)` shape every no-change load,
    // DV-only takedown, and marker-advance commit passes) writes no
    // partition dir by definition — skip the Spark write job entirely and
    // stage an empty directory. Plan-level proof only: anything not
    // syntactically empty still runs. At any scale this turns the
    // idempotent-re-delivery commit into pure metadata.
    if (provablyEmpty(next.queryExecution.analyzed))
      Files.createDirectories(staging)
    else Prof.time("commitPartitions.write")(
      next.write.partitionBy(partCol).mode("overwrite").parquet(staging.toString))
    extraFiles.foreach { case (name, content) =>
      require(name.startsWith("_") || name.startsWith("."),
        s"extra file '$name' must be hidden ('_'/'.' prefix) or Spark would list it as data")
      Files.write(staging.resolve(name), content.getBytes("UTF-8"))
    }
    // geometry travels WITH the commit: carry the current version's marker
    // forward unless this commit installs a new one (rebucket via
    // extraFiles) — the in-commit copy is the atomic truth a crash or a
    // concurrent writer can never observe half-applied. A table whose
    // versions predate any in-dir marker (bootstrap adopted only the
    // table-root one) materializes the root marker here, so EVERY version
    // self-describes its layout — without this, a restore past a rebucket
    // could not know the target's true geometry (the root marker was
    // overwritten by the rebucket).
    if (!extraFiles.contains(GeometryFile)) {
      val carrySrc = base.map(b => table.resolve(s"v$b").resolve(GeometryFile))
        .filter(Files.exists(_))
        .orElse(Some(table.resolve(GeometryFile)).filter(Files.exists(_)))
      carrySrc.foreach(g => Files.copy(g, staging.resolve(GeometryFile)))
    }
    val s = Files.list(staging)
    val written =
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
        .filter(_.startsWith(partCol + "=")).toSeq
      finally s.close()
    // a typo'd/stale dropParts entry would be silently ignored by
    // `prev -- dropParts` — the old bytes staying live is exactly the
    // hazard dropParts exists to prevent, so an unknown name fails loudly
    if (!dropAbsent && !dropParts.subsetOf(prev.keySet)) {
      deleteRecursively(staging)
      throw new IllegalArgumentException(
        s"dropParts ${dropParts -- prev.keySet} not present in the " +
          s"committed manifest (${prev.keySet.toSeq.sorted.take(5).mkString(", ")}…)")
    }
    // a partition both rewritten and dropped is a contradictory request
    // (only detectable after the write reveals which dirs `next` produced)
    if (dropParts.intersect(written.toSet).nonEmpty) {
      deleteRecursively(staging)
      throw new IllegalArgumentException(
        s"dropParts ${dropParts.intersect(written.toSet)} also present in `next`")
    }
    // ---- promote with OPTIMISTIC CONCURRENCY -----------------------------
    //
    // The reference runs its dimension loads as parallel DAGs
    // (configure.py:387-398): writers touching DISJOINT partition sets must
    // BOTH land. The CAS rename still serializes version numbers, but a
    // rename loser no longer aborts outright: it waits for the winner's
    // pointer, diffs the winner's manifest against the base it loaded from,
    // and if the winner touched none of its own written/dropped partitions,
    // re-finalizes the SAME staged data (metadata only — manifest, Delta
    // log, table-log entry; the parquet is never rewritten) against the new
    // base and retries the next slot. Overlap aborts loudly: last-writer-
    // wins on a shared partition would silently drop the loser's rows.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val tableAbs = table.toAbsolutePath
    // start the OCC loop from the version the caller READ, not the version
    // current at entry: if a winner landed in between, the first iteration
    // finds the pointer already at/past its slot and takes the loss path —
    // the manifest diff then covers the whole read→current span, so entry
    // staleness and a lost rename are one code path
    var curBase = if (readBase.isDefined) readBase else base
    var curPrev =
      if (readBase.isDefined && readBase != base)
        curBase.map(b => readPartsManifest(table.resolve(s"v$b"))).getOrElse(Map.empty)
      else prev
    var curV = curBase.getOrElse(-1L) + 1
    var curDeclared = declared
    var curWidened = widenedNow
    var attempts = 0
    var committedV = -1L
    var committedManifest = Map.empty[String, Long]
    while (committedV < 0) {
      // dropAbsent = full-replace semantics per partition (the rebucket
      // shape): every previous name this write did not reproduce drops
      val effDrop =
        if (dropAbsent) curPrev.keySet -- written.toSet else dropParts
      val manifest = (curPrev -- effDrop) ++ written.map(_ -> curV)
      // deletion vectors: new tombstones must name live files in buckets
      // this commit carries (a stale file ref — the bucket rewritten since
      // the caller located its coordinates — would tombstone nothing,
      // silently resurrecting the rows, so it fails loudly); previous
      // tombstones survive exactly while their bucket's bytes do
      val touchedHere = written.toSet ++ effDrop
      deletionVector.keys.foreach { f =>
        val b = dvBucketOf(f).getOrElse(throw new IllegalArgumentException(
          s"deletionVector path '$f' has no col=value partition segment"))
        require(!touchedHere.contains(b),
          s"deletionVector targets '$f' in bucket $b which this commit " +
            "rewrites/drops — the rewrite materializes deletions instead")
        require(manifest.get(b).exists(owner => f.startsWith(s"v$owner/")),
          s"deletionVector targets '$f' but bucket $b is " +
            manifest.get(b).fold("not in the manifest")(o => s"owned by v$o") +
            " — stale coordinates, relocate against the current version")
      }
      Files.write(staging.resolve(PartsManifest),
        JsonMethods.compact(JsonMethods.render(JObject(
          manifest.toSeq.sortBy(_._1).map { case (k, ver) => k -> JLong(ver) }.toList
        ))).getBytes("UTF-8"))
      // Delta interop: rewritten partitions as relative adds, untouched ones
      // carried as absolute-URI adds (shallow-clone shape) from the base
      // version's log — still metadata-only, still never listing their bytes.
      // fileStats=false (streaming micro-batch sinks) skips the footer pass —
      // same contract as commitVersion's flag.
      val carried0 = Prof.time("commitPartitions.carriedAdds")(
        curBase.fold(Seq.empty[DeltaInterop.Add])(b =>
          DeltaInterop.carriedAdds(table.resolve(s"v$b"), baseLog(b), manifest,
            rewritten = written.toSet, partCol)))
      // Deletion vectors live on the carried adds: each keeps its base
      // descriptor (its tombstones survive exactly while its bytes do), and
      // this commit's new tombstones merge into the matching add — keyed by
      // the encoding-safe `v<owner>/<part>/<file>` form. Own (rewritten)
      // adds never carry one: the staged rewrite materializes deletions,
      // and the validation above rejects a vector aimed at a rewritten
      // bucket. A new entry that names no carried file would tombstone
      // nothing and silently resurrect its rows, so it fails loudly.
      val carried =
        if (deletionVector.isEmpty) carried0
        else {
          val keyed = carried0.map(a => DeltaInterop.dvKey(table, a.path) -> a)
          val unknown = deletionVector.keySet -- keyed.map(_._1)
          require(unknown.isEmpty,
            s"deletionVector targets ${unknown.toSeq.sorted.take(3).mkString(", ")} " +
              "which no carried add names — stale coordinates, relocate against " +
              "the current version")
          keyed.map { case (key, a) =>
            deletionVector.get(key).filter(_.nonEmpty).fold(a) { rows =>
              val merged = (a.dv.fold(Seq.empty[Long])(DeltaDv.rows) ++ rows).distinct.sorted
              // protocol: a DV'd file's per-file stats stop being tight
              // (numRecords stays PHYSICAL — row-index space — but min/max
              // may describe deleted rows)
              a.copy(dv = Some(DeltaDv.inline(merged)),
                stats = a.stats.map(DeltaInterop.markStatsUntight))
            }
          }
        }
      // typeWidening is sticky in the per-version log too: carried buckets
      // keep narrow physical files long after the widening commit, so every
      // later version's standalone log must still declare the feature
      val widenFeature =
        if (curWidened || curBase.exists(b => baseLog(b).features.contains("typeWidening")))
          Set("typeWidening")
        else Set.empty[String]
      val adds = Prof.time("commitPartitions.writeCommit0")(
        DeltaInterop.writeCommit0(next.sparkSession, staging, curDeclared,
          Seq(partCol), carried = carried, footerStats = if (fileStats) None else NoFileStats,
          extraFeatures = widenFeature))
      // table-level log: own (rewritten-bucket) adds become table-root
      // relative `v<N>/…`. Carried adds arrive as absolute `file:` URIs (the
      // per-version log's shallow-clone shape) — canonicalize them to the
      // SAME root-relative form, or replay would see `v0/x` and
      // `file:…/v0/x` as different files and re-add every carry (the
      // incremental entry must stay O(rewritten buckets))
      val carriedPaths = carried.map(_.path).toSet
      val vNow = curV
      def tableRel(a: DeltaInterop.Add): DeltaInterop.Add =
        if (!carriedPaths.contains(a.path)) a.copy(path = s"v$vNow/${a.path}")
        else if (a.path.startsWith("file:")) {
          val p = java.nio.file.Paths.get(java.net.URI.create(a.path))
          if (p.startsWith(tableAbs))
            a.copy(path = (0 until tableAbs.relativize(p).getNameCount)
              .map(tableAbs.relativize(p).getName(_).toString).mkString("/"))
          else a
        } else a
      // replayed previous table-log state, computed BEFORE the CAS: the
      // rename→pointer-swap window then holds only one JSON write
      val prevState = Prof.time("commitPartitions.replayState")(
        DeltaInterop.replayState(table, curV - 1))
      // never ATTEMPT a slot the pointer already reached: a readBase far
      // behind (or a writer storm during a slow staging write) could find
      // its target slot vacuumed, and the rename would then SUCCEED into a
      // dead slot and swing `_LATEST` backwards — check the pointer first
      // and treat "already passed" as a lost rename
      val pointerAhead = currentVersion(table).exists(_ >= curV)
      if (!pointerAhead && tryRename(table, staging, curV)) {
        val deferredCkpt = Prof.time("commitPartitions.appendLog")(
          DeltaInterop.appendTableCommit(table,
            curV, curDeclared, Seq(partCol), adds.map(tableRel), prevState,
            extraFeatures = widenFeature))
        swapPointer(table, curV)
        Prof.time("commitPartitions.checkpoint")(
          deferredCkpt.foreach(_.apply())) // O(live files) write: outside the swap window
        committedV = curV
        committedManifest = manifest
      } else {
        attempts += 1
        try {
          val newBase = awaitPointerAtLeast(table, curV)
          val newPrev = readPartsManifest(table.resolve(s"v$newBase"))
          val touched = (curPrev.keySet ++ newPrev.keySet)
            .filter(p => curPrev.get(p) != newPrev.get(p))
          // a tombstoned bucket the winner rewrote is an overlap too: the
          // caller's (file, row) coordinates name files that no longer
          // exist, and committing them would silently resurrect the rows
          val dvBuckets = deletionVector.keys.flatMap(dvBucketOf).toSet
          // ...and the converse (ADVICE r11): a DV-ONLY winner moves no
          // manifest entry, so the parts diff alone is blind to it. A
          // loser re-finalizing staged bytes read BEFORE those tombstones
          // existed — while its rewritten buckets' fresh adds drop the
          // winner's descriptors — would silently resurrect the deleted rows.
          // Union the buckets whose DV state changed between the two
          // bases into the conflict set; the rebase read path reads the
          // winner's version DV-applied, materializing the deletes.
          def dvAt(b: Long) = dvDescriptors(table.resolve(s"v$b"), baseLog(b).adds)
          val dvOld = curBase.fold(Map.empty[String, DeltaDv.Descriptor])(dvAt)
          val dvNew = dvAt(newBase)
          val dvChanged = (dvOld.keySet ++ dvNew.keySet)
            .filter(f => dvOld.get(f) != dvNew.get(f))
            .flatMap(dvBucketOf)
          // READ-SNAPSHOT invalidation first: the caller's `staleOn`
          // buckets back decisions made before this call (change-probe
          // verdicts, delete counts, DV coordinates). A winner touching one
          // the resolver cannot rebase bucket-locally (not in this commit's
          // written set, or no resolver at all) voids the whole
          // computation, not just a bucket — retryable, so the caller
          // recomputes against the new version instead of aborting
          val rebasable = if (onOverlap.isDefined) written.toSet else Set.empty[String]
          val invalidated =
            if (staleOnAny) (touched ++ dvChanged) -- rebasable
            else (touched ++ dvChanged).intersect(staleOn) -- rebasable
          if (invalidated.nonEmpty)
            throw new StaleReadException(
              s"concurrent commit(s) v${curBase.getOrElse(-1L)}→v$newBase at $table " +
                s"touched bucket(s) ${invalidated.toSeq.sorted.take(5).mkString(", ")} " +
                "this write's decisions were computed against — recompute and retry")
          // NOT a conflict: dvChanged ∩ dvBuckets — two concurrent
          // takedowns tombstoning the same bucket. The DV-only winner
          // moved no file, so the loser's coordinates still name live
          // bytes, and the retry's re-staging carries the winner's
          // descriptors and UNIONS both vectors — the serial
          // outcome, no rebase needed (spec: concurrent takedowns).
          val overlap = touched.intersect(written.toSet ++ effDrop ++ dvBuckets) ++
            dvChanged.intersect(written.toSet ++ effDrop)
          if (overlap.nonEmpty) {
            // rebase path: only DATA-REWRITE conflicts have a recompute
            // story (a conflicting drop or tombstone has no merge), and
            // only while attempts remain
            if (onOverlap.isEmpty || !overlap.subsetOf(written.toSet) ||
                attempts >= MaxCommitAttempts)
              throw new java.util.ConcurrentModificationException(
                s"conflicting concurrent commit at $table: partition(s) " +
                  s"${overlap.toSeq.sorted.take(5).mkString(", ")} touched by " +
                  "both writers — rerun this load against the new base")
            // recompute ONLY the conflicting partitions on the winner's
            // state and swap their staged bytes; the disjoint remainder of
            // the staging is untouched (its data is not rewritten) and the
            // CAS retries the next slot with everything re-finalized there
            val fresh = onOverlap.get.recompute(next.sparkSession, table, newBase, overlap)
            require(fresh.schema.map(f => (f.name, f.dataType)).toSet ==
              next.schema.map(f => (f.name, f.dataType)).toSet,
              s"overlap recompute must return the original frame's schema " +
                s"(got ${fresh.schema.map(_.name).mkString(",")})")
            val tmp = Files.createTempDirectory(table, ".rebase-")
            try {
              fresh.write.partitionBy(partCol).mode("overwrite").parquet(tmp.toString)
              val fs = Files.list(tmp)
              val freshDirs =
                try fs.toArray.map(_.asInstanceOf[Path].getFileName.toString)
                  .filter(_.startsWith(partCol + "=")).toSet
                finally fs.close()
              // covering MORE partitions would silently widen the write
              // set mid-commit; covering FEWER (an emptied conflicting
              // partition) has no rebase story — both abort
              require(freshDirs == overlap,
                s"overlap recompute must produce exactly $overlap, got $freshDirs")
              freshDirs.foreach { p =>
                deleteRecursively(staging.resolve(p))
                Files.move(tmp.resolve(p), staging.resolve(p),
                  java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              }
            } finally deleteRecursively(tmp)
          }
          if (attempts >= MaxCommitAttempts)
            throw new java.util.ConcurrentModificationException(
              s"gave up after $attempts disjoint-retry rounds at $table " +
                "(writer storm) — rerun this load")
          val (d2, w2) = declareAgainst(Some(newBase))
          curDeclared = d2
          curWidened = w2
          curBase = Some(newBase)
          curPrev = newPrev
          curV = newBase + 1
        } catch {
          case e: Throwable => deleteRecursively(staging); throw e
        }
      }
    }
    Prof.time("commitPartitions.vacuum")(
      vacuumAfterCommit(table, committedV, keep, committedManifest))
    committedV
  }

  /** The post-commit vacuum shared by [[commitPartitions]] and [[restore]]:
    * protect every version referenced by ANY retained manifest, not just
    * the new one — a retained version w is promised readable
    * (readPartitionedVersionAt / changeDataFeed's fromV side), and its
    * carried buckets live in versions ONLY w's manifest still names;
    * vacuuming by the new manifest alone would delete those bytes the
    * first time a long-carried bucket is finally rewritten. Re-reads the
    * retention mark: an operator may have RAISED it while the (slow) data
    * write ran — the stale value would sweep the new window. */
  private def vacuumAfterCommit(table: Path, committedV: Long, keep: Int,
      committedManifest: Map[String, Long]): Unit = {
    val keepNow = math.max(keep, tableRetention(table))
    val retainedRefs = (math.max(0L, committedV - keepNow) to committedV).flatMap { w =>
      if (w == committedV) committedManifest.values
      else {
        val m = table.resolve(s"v$w").resolve(PartsManifest)
        if (Files.exists(m)) readPartsManifest(table.resolve(s"v$w")).values
        else Nil
      }
    }.toSet
    vacuum(table, committedV, keepNow, referenced = retainedRefs)
  }

  /** RESTORE: roll a partition-manifested table back to retained version
    * `toV` as a NEW commit — METADATA-ONLY. The restored version's
    * manifest re-pins toV's owning versions (bytes stay where they are),
    * its deletion vector and bucket geometry are toV's, and not one data
    * file is read, moved, or written — the fat-finger recovery a petabyte
    * table can afford. History is preserved: the rolled-back versions stay
    * retained and time-travelable until vacuum ages them out, and the
    * change feed across the restore version shows exactly the logical
    * delta, like any commit. External readers follow through the
    * table-level Delta log (removes for rolled-back files, re-adds for
    * restored ones — the protocol RESTORE shape). Returns the new
    * version; restoring to the current version is a no-op. */
  def restore(spark: SparkSession, table: Path, toV: Long,
      keepVersions: Int = 1): Long = {
    val cur0 = currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table"))
    require(toV <= cur0,
      s"cannot restore $table to future version $toV (current $cur0)")
    if (toV == cur0) return cur0
    val tdir = table.resolve(s"v$toV")
    require(Files.exists(tdir.resolve(PartsManifest)),
      s"restore target v$toV is not retained (or not partition-manifested) at $table")
    val manifest = readPartsManifest(tdir)
    val snap = DeltaInterop.readLog(DeltaInterop.logFile(tdir))
    val schema = snap.schema
    val partCols = snap.partitionColumns
    val partCol = partCols.headOption.getOrElse("pbucket")
    // a restore resurrects toV's declared schema, physical files and their
    // deletion vectors, so it must carry toV's protocol features
    // (typeWidening, deletionVectors)
    val features = snap.features
    val keep = effectiveKeep(table, keepVersions)
    val tableAbs = table.toAbsolutePath
    var attempts = 0
    while (true) {
      val cur = currentVersion(table).get
      val v = cur + 1
      val staging = newStaging(table, v)
      try {
        Files.createDirectories(staging)
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        Files.write(staging.resolve(PartsManifest),
          JsonMethods.compact(JsonMethods.render(JObject(
            manifest.toSeq.sortBy(_._1).map { case (k, ver) => k -> JLong(ver) }.toList
          ))).getBytes("UTF-8"))
        val g = tdir.resolve(GeometryFile)
        if (Files.exists(g)) Files.copy(g, staging.resolve(GeometryFile))
        // every file is a carried add from toV's own log, descriptors
        // included — pure metadata
        val carried = DeltaInterop.carriedAdds(tdir, snap, manifest,
          rewritten = Set.empty, partCol)
        val adds = DeltaInterop.writeCommit0(spark, staging, schema, partCols,
          carried = carried, footerStats = NoFileStats, extraFeatures = features)
        def tableRel(a: DeltaInterop.Add): DeltaInterop.Add =
          if (a.path.startsWith("file:")) {
            val p = java.nio.file.Paths.get(java.net.URI.create(a.path))
            if (p.startsWith(tableAbs))
              a.copy(path = (0 until tableAbs.relativize(p).getNameCount)
                .map(tableAbs.relativize(p).getName(_).toString).mkString("/"))
            else a
          } else a
        val prevState = DeltaInterop.replayState(table, v - 1)
        val pointerAhead = currentVersion(table).exists(_ >= v)
        if (!pointerAhead && tryRename(table, staging, v)) {
          val deferred = DeltaInterop.appendTableCommit(table, v, schema, partCols,
            adds.map(tableRel), prevState, extraFeatures = features)
          swapPointer(table, v)
          deferred.foreach(_.apply())
          vacuumAfterCommit(table, v, keep, manifest)
          return v
        } else {
          deleteRecursively(staging)
          attempts += 1
          if (attempts >= MaxCommitAttempts)
            throw new java.util.ConcurrentModificationException(
              s"gave up restoring $table after $attempts CAS rounds (writer storm)")
          awaitPointerAtLeast(table, v)
        }
      } catch {
        case e: Throwable => deleteRecursively(staging); throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read the committed state of a partition-manifested table, optionally
    * restricted to `onlyParts` partition-dir names (`col=value`) — the
    * pruned-read path: only the named partitions' owning versions are
    * listed, everything else is never touched. */
  def readPartitionedVersion(
      spark: SparkSession, table: Path,
      onlyParts: Option[Set[String]] = None): DataFrame =
    readPartitionedVersionAt(spark, table,
      currentVersion(table).getOrElse(
        throw new IllegalStateException(s"no committed version at $table")),
      onlyParts)

  /** Time travel for a partition-manifested table: the state AS OF retained
    * version `v`. The manifest at `v` still names the owning version of
    * every partition it carried, and vacuum never removes a referenced
    * version, so the historical composition reads exactly like the live one. */
  def readPartitionedVersionAt(
      spark: SparkSession, table: Path, v: Long,
      onlyParts: Option[Set[String]] = None): DataFrame =
    readPartitionedAt0(spark, table, v, onlyParts, lineage = false)

  /** [[readPartitionedVersion]] with two extra columns exposing physical
    * row identity: `__dv_file` (table-relative `v<ver>/<part>/<file>` —
    * the deletion-vector key form, [[DeltaInterop.dvKey]]) and `__dv_pos` (parquet
    * row index within that file) — the coordinates a deletion-vector
    * commit tombstones. Vectors already committed are applied FIRST, so
    * every coordinate returned names a live row. */
  private[graft] def readPartitionedLineage(
      spark: SparkSession, table: Path,
      onlyParts: Option[Set[String]] = None,
      at: Option[Long] = None): DataFrame =
    readPartitionedAt0(spark, table,
      at.orElse(currentVersion(table)).getOrElse(
        throw new IllegalStateException(s"no committed version at $table")),
      onlyParts, lineage = true)

  // ---- version-pinned plan memoization ------------------------------------
  //
  // A committed version directory is IMMUTABLE under the commit protocol
  // (staging renamed atomically into place; vacuum only deletes whole
  // versions no retained manifest references), so the logical plan built
  // for (session, table, version, parts, lineage) can be reused verbatim.
  // Building one costs real driver time — manifest read, per-owner-group
  // file listing + parquet schema inference, DV anti-join construction —
  // and a single maintenance refresh builds the SAME pinned read many
  // times (old/new snapshots, feed endpoints, probe + merge inputs).
  // This memoizes PLANS, not results: every action still scans parquet.
  // The version dir's mtime is part of the key, so an out-of-band rebuild
  // of the same path (test fixtures, manual surgery) invalidates naturally.
  private val PlanCacheMax = 512
  private val planCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Map[Any, DataFrame]]())

  private def planCacheFor(spark: SparkSession): java.util.Map[Any, DataFrame] =
    planCache.synchronized {
      var m = planCache.get(spark)
      if (m == null) {
        m = java.util.Collections.synchronizedMap(
          new java.util.LinkedHashMap[Any, DataFrame](64, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[Any, DataFrame]): Boolean =
              size() > PlanCacheMax
          })
        planCache.put(spark, m)
      }
      m
    }

  /** Run two INDEPENDENT driver-side Spark pipelines concurrently
    * (guide §2.6 "overlap independent jobs"): one pipeline's stage tail
    * back-fills cores the other's stragglers leave idle. Only for work
    * on DISJOINT state (separate tables / separate frames) — the commit
    * protocol serializes per table, not across threads on one table.
    * Both sides always run to completion before this returns or throws, so
    * a failure never leaves the sibling still committing behind the
    * caller's back. A failure propagates to the caller; when both sides
    * fail, `a`'s failure is thrown with `b`'s attached as suppressed.
    * Both sides run under the caller's Spark job group and description, so
    * their jobs are attributed to the caller's phase; each pool thread gets
    * its own values back afterwards. */
  private[graft] def inParallel[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    implicit val ec: ExecutionContext = ExecutionContext.global
    // pool threads keep whatever local properties they inherited when they
    // were created, so the caller's job attribution is carried explicitly
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val caller = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map { s => val c = s.sparkContext; (c, keys.map(k => k -> c.getLocalProperty(k))) }
    def asCaller[T](body: => T): T = caller.fold(body) { case (c, props) =>
      val own = keys.map(k => k -> c.getLocalProperty(k))
      props.foreach { case (k, v) => c.setLocalProperty(k, v) }
      try body finally own.foreach { case (k, v) => c.setLocalProperty(k, v) }
    }
    // blocking: each side holds its pool thread for whole Spark jobs
    val fa = Future(blocking(asCaller(a)))
    val fb = Future(blocking(asCaller(b)))
    val ra = Try(Await.result(fa, Duration.Inf))
    val rb = Try(Await.result(fb, Duration.Inf))
    (ra, rb) match {
      case (Failure(ea), Failure(eb)) => ea.addSuppressed(eb); throw ea
      case _ => (ra.get, rb.get) // rethrows the one failure, if any
    }
  }

  /** Syntactic emptiness proof over an analyzed plan: `.limit(0)` (and
    * projections/filters above it, and empty local relations) — the exact
    * shapes the engine's own no-change commit paths construct. */
  private[ops] def provablyEmpty(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case GlobalLimit(Literal(0, _), _) => true
      case LocalLimit(Literal(0, _), child) => provablyEmpty(child)
      case l: LocalRelation => l.data.isEmpty
      case pr: Project => provablyEmpty(pr.child)
      case f: Filter => provablyEmpty(f.child)
      case _ => false
    }
  }

  private def cachedBuild(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame = {
    val m = planCacheFor(spark)
    val hit = m.get(key)
    if (hit != null) hit
    else {
      val df = build
      m.put(key, df)
      df
    }
  }

  private def readPartitionedAt0(
      spark: SparkSession, table: Path, v: Long,
      onlyParts: Option[Set[String]], lineage: Boolean): DataFrame = {
    val vdir = table.resolve(s"v$v")
    val cur = currentVersion(table)
    require(Files.exists(vdir) && cur.exists(v <= _),
      s"version $v not retained at $table (current=$cur)")
    val key = ("parts", table.toAbsolutePath.toString, v,
      onlyParts.map(_.toSeq.sorted), lineage,
      Files.getLastModifiedTime(vdir).toMillis)
    cachedBuild(spark, key)(
      Prof.time("storage.readPartitioned.build")(
        readPartitionedAt1(spark, table, v, onlyParts, lineage)))
  }

  private def readPartitionedAt1(
      spark: SparkSession, table: Path, v: Long,
      onlyParts: Option[Set[String]], lineage: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, substring_index, col => c, lit => l}
    val vdir = table.resolve(s"v$v")
    require(Files.exists(vdir.resolve(PartsManifest)),
      s"$table v$v has no partition manifest — " +
        "was it committed with commitVersion instead of commitPartitions?")
    val manifest = readPartsManifest(vdir)
    // a PRESENT-but-empty manifest is the valid empty-bootstrap state
    // (commitPartitions of an empty batch) — the commit's Delta log types it
    if (manifest.isEmpty) {
      val df = DeltaInterop.readSnapshot(spark, vdir)
      return if (!lineage) df
        else df.withColumn("__dv_file", l(null).cast("string"))
          .withColumn("__dv_pos", l(null).cast("long"))
    }
    val selected = manifest.filter { case (p, _) => onlyParts.forall(_.contains(p)) }
    if (selected.isEmpty)
      readPartitionedAt0(spark, table, v, None, lineage).limit(0)
    else {
      // ONE parse of the version's log yields both the declared schema and
      // the deletion vectors (only DV-carrying adds are parsed). The
      // vectors ride WITH the version: tombstoned (file, row-index)
      // coordinates are subtracted from every read — upserts, CDF
      // snapshots, time travel — so a merge-on-read delete is visible
      // table-wide without rewriting a byte of data. Restricted to the
      // selected buckets so the broadcast stays O(pruned tombstones).
      val log = DeltaInterop.readLog(DeltaInterop.logFile(vdir), dvAddsOnly = true)
      val dv = dvDescriptors(vdir, log.adds).collect {
        case (f, d) if dvBucketOf(f).exists(selected.contains) => f -> DeltaDv.rows(d) }
      val needMeta = lineage || dv.nonEmpty
      // align to the commit's DECLARED schema = add-column evolution:
      // buckets carried from before the column existed read null for it —
      // including a PRUNED read whose selected buckets ALL predate the
      // column (lit(null) fills a column no branch carries) — exactly as
      // readSnapshot and any external Delta engine resolve the same mixed
      // adds.
      val declared = log.schema
      val composed = selected.groupBy(_._2).toSeq.sortBy(_._1).map { case (ver, parts) =>
        val ownerDir = table.resolve(s"v$ver")
        val base = spark.read.option("basePath", ownerDir.toString)
          .parquet(parts.keys.toSeq.sorted.map(p => ownerDir.resolve(p).toString): _*)
        if (!needMeta) base
        // table-relative canonical coordinates: the scan renders
        // file:/… URIs whose root prefix is percent-ENCODED for special
        // characters, while driver-side paths are raw — matching absolute
        // strings would silently miss tombstones for a table path
        // containing a space (ADVICE r11). The last three path components
        // are encoding-free and ARE the descriptors' key form
        // ([[DeltaInterop.dvKey]]) — both join sides derive from it and
        // no decode is needed.
        else base.select(c("*"),
          substring_index(c("_metadata.file_path"), "/", -3).as("__dv_file"),
          c("_metadata.row_index").as("__dv_pos"))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      val masked =
        if (dv.isEmpty) composed
        else {
          val doomed = dv.toSeq.flatMap { case (rel, ps) => ps.map(p => (rel, p)) }
          import spark.implicits._
          composed.join(broadcast(doomed.toDF("__dv_file", "__dv_pos")),
            Seq("__dv_file", "__dv_pos"), "left_anti")
        }
      val lineageCols = if (lineage) Seq(c("__dv_file"), c("__dv_pos")) else Seq.empty
      val present = masked.columns.toSet
      masked.select(declared.map { f =>
        if (present.contains(f.name)) c(f.name).cast(f.dataType).as(f.name)
        else l(null).cast(f.dataType).as(f.name)
      } ++ lineageCols: _*)
    }
  }

  /** The partition-dir names whose BYTES differ between retained versions
    * `fromV` and `toV` of a partition-manifested table: a partition changed
    * iff its manifest entry (owning version) changed — carried-by-reference
    * partitions are byte-identical by construction, so everything else can
    * be skipped without reading it. Metadata-only: two manifest reads. */
  /** Marker a maintenance commit leaves when its VISIBLE state is
    * byte-for-byte the named predecessor's (compaction: same rows, same
    * bucket names, fewer files). Written post-commit and only when the
    * commit landed exactly one slot above the version it composed — a
    * racing writer makes the claim unprovable, so the marker is simply
    * absent and diffs pay the full scan they always did. The marker is an
    * OPTIMIZATION HINT: absence is always safe, presence is only ever
    * written for provably identical states. */
  private[graft] val StateIdenticalMarker = "_STATE_IDENTICAL_TO"

  private def stateIdenticalPredecessor(table: Path, v: Long): Option[Long] = {
    val f = table.resolve(s"v$v").resolve(StateIdenticalMarker)
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f), "UTF-8").trim.toLong)
  }

  /** Walk state-identical markers down from `toV` (chains compose): the
    * earliest retained version whose visible state equals `toV`'s, never
    * below `fromV`. At 100 TB this is what keeps scheduled compaction
    * from turning every maintained view's NEXT refresh into a full-table
    * diff — the post-compaction feed interval resolves to empty
    * metadata-only. Safe because compaction preserves bucket NAMES, so a
    * partially-resolved interval's changed-bucket set still addresses the
    * final version's layout. */
  private def resolveStateIdentical(table: Path, fromV: Long, toV: Long): Long = {
    var to = toV
    var continue = true
    while (continue && to > fromV) {
      stateIdenticalPredecessor(table, to) match {
        case Some(p) if p >= fromV && p < to &&
            Files.exists(table.resolve(s"v$p").resolve(PartsManifest)) =>
          to = p
        case _ => continue = false
      }
    }
    to
  }

  /** The marker steps strictly inside (fromV, toV]: versions whose
    * visible state provably equals their IMMEDIATE predecessor's (the
    * only form [[compact]] writes). A diff interval that merely CROSSES
    * one of these — rather than ending at it — can skip the step
    * entirely when composing per-step diffs. */
  private def markerStepsIn(table: Path, fromV: Long, toV: Long): Set[Long] =
    (fromV + 1 to toV).filter(v =>
      stateIdenticalPredecessor(table, v).contains(v - 1)).toSet

  /** True when every version in [fromV, toV] still carries its partition
    * manifest — the retention precondition for composing per-step diffs. */
  private def allManifested(table: Path, fromV: Long, toV: Long): Boolean =
    (fromV to toV).forall(v =>
      Files.exists(table.resolve(s"v$v").resolve(PartsManifest)))

  def partitionsChangedBetween(table: Path, fromV: Long, toV: Long): Set[String] = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    def manifestAt(v: Long): Map[String, Long] = {
      val vdir = table.resolve(s"v$v")
      require(Files.exists(vdir.resolve(PartsManifest)),
        s"$table v$v is not retained or has no partition manifest")
      readPartsManifest(vdir)
    }
    def diff(a: Map[String, Long], b: Map[String, Long]): Set[String] =
      (a.keySet ++ b.keySet).filter(p => a.get(p) != b.get(p))
    val resolved = resolveStateIdentical(table, fromV, toV)
    if (resolved == fromV) return Set.empty
    // an interval CROSSING a compaction (not ending at it) gets nothing
    // from the endpoint resolution, yet the compaction rewrote EVERY
    // bucket's owner — an endpoint manifest diff would report the whole
    // table changed. Compose per-step diffs instead, skipping the marker
    // steps (state-identical: contribute nothing): the union touches only
    // the buckets the REAL commits changed. Safe because compaction
    // preserves bucket names, so per-step names address the final layout;
    // the union is a SUPERSET of the endpoint diff (a bucket changed and
    // changed back still surfaces — its rows diff to empty downstream).
    // Falls back to the endpoint diff when any intermediate version was
    // vacuumed — slower on the crossing case, never wrong.
    val markers = markerStepsIn(table, fromV, resolved)
    if (markers.nonEmpty && allManifested(table, fromV, resolved))
      (fromV + 1 to resolved).filterNot(markers.contains).foldLeft(Set.empty[String]) {
        (acc, v) => acc ++ diff(manifestAt(v - 1), manifestAt(v))
      }
    else diff(manifestAt(fromV), manifestAt(resolved))
  }

  /** The partition-dir names whose VISIBLE rows differ between `fromV` and
    * `toV` because their deletion vectors differ — invisible to
    * [[partitionsChangedBetween]] (a DV-only commit carries every byte by
    * reference, so no manifest entry moves). Any version diff (the change
    * feed above all) must union both. Metadata-only: two log reads (each
    * parsing only its DV-carrying adds). */
  def dvChangedBuckets(table: Path, fromV: Long, toV: Long): Set[String] = {
    require(fromV <= toV, s"fromV $fromV must be <= toV $toV")
    // same resolution as the manifest diff: visible-state-identical
    // commits contribute nothing (a compaction APPLIES outstanding DVs —
    // its descriptor-free adds differ from the predecessor's, but the
    // visible rows do not)
    val resolved = resolveStateIdentical(table, fromV, toV)
    if (resolved == fromV) return Set.empty
    val dvs = scala.collection.mutable.Map.empty[Long, Map[String, DeltaDv.Descriptor]]
    def dvDiff(x: Long, y: Long): Set[String] = {
      val Seq(a, b) = Seq(x, y).map(w =>
        dvs.getOrElseUpdate(w, dvDescriptorsAt(table.resolve(s"v$w"))))
      (a.keySet ++ b.keySet).filter(f => a.get(f) != b.get(f)).flatMap(dvBucketOf)
    }
    // per-step composition across an interval that CROSSES a compaction,
    // mirroring [[partitionsChangedBetween]]: a compaction clears the
    // descriptors (it applied the DVs), so an endpoint diff against a
    // pre-compaction version reports every DV'd bucket changed even
    // though the marker proves the visible rows did not move
    val markers = markerStepsIn(table, fromV, resolved)
    if (markers.nonEmpty && allManifested(table, fromV, resolved))
      (fromV + 1 to resolved).filterNot(markers.contains).foldLeft(Set.empty[String]) {
        (acc, v) => acc ++ dvDiff(v - 1, v)
      }
    else dvDiff(fromV, resolved)
  }

  /** TTL retention for a partition-manifested table: DROP every committed
    * partition whose `col=value` name fails `keep` — one metadata commit,
    * zero data reads or writes (the dropped buckets' bytes become
    * vacuumable with their owning versions; until then time travel still
    * serves them). The retention operation a time-partitioned event store
    * runs daily at 100 TB: expiring a month of `pday=` buckets costs
    * O(dropped) manifest entries, not a scan. No-op (current version,
    * no commit burned) when nothing is due. Downstream consumers see the
    * expiry as ordinary deletes in the change feed. */
  def expireParts(spark: SparkSession, table: Path,
      keep: String => Boolean, keepVersions: Int = 1): Long = {
    val cur = currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table"))
    val parts = committedPartitions(table)
    val doomed = parts.filterNot(keep)
    if (doomed.isEmpty) return cur
    val partCol = doomed.head.split("=", 2)(0)
    // the empty carrier frame is typed from the DECLARED schema, not a
    // parquet read — even a schema probe would open the doomed buckets'
    // footers, and "never opens the expired bytes" is the contract
    val declared = DeltaInterop.readLog(DeltaInterop.logFile(table.resolve(s"v$cur"))).schema
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
    commitPartitions(empty, table, partCol,
      keepVersions = keepVersions, dropParts = doomed)
  }

  /** Metadata-driven compaction policy — the auto-OPTIMIZE trigger: run
    * [[compact]] only when the live file population has degraded, judged
    * ENTIRELY from the current version's Delta-log add sizes (no data
    * listing, no filesystem walk): more than `maxSmallFiles` live files
    * under half the byte target. Incremental loads accrete one file per
    * micro-batch; the policy bounds that drift so a scheduled caller can
    * invoke this after every load and pay the rewrite only when it earns
    * its keep. Returns the compacted file-count target, or None when the
    * table is healthy or has no committed version.
    *
    * CONVERGENCE: a partition-manifested table can never compact below
    * one file per committed partition (the layout is the point), so on a
    * small table whose bucket count exceeds `maxSmallFiles` the raw
    * small-file count would trip the trigger on EVERY scheduled call —
    * each one a full-table rewrite that changes nothing. The threshold is
    * therefore `max(maxSmallFiles, partitions)` for manifested tables,
    * and the trigger additionally requires the rewrite to actually SHRINK
    * the live file count: two consecutive calls can never both rewrite. */
  def maybeCompact(spark: SparkSession, table: Path,
      targetBytes: Long = 128L << 20, maxSmallFiles: Int = 16): Option[Int] = {
    val v = currentVersion(table).getOrElse(return None)
    val adds = DeltaInterop.readLog(DeltaInterop.logFile(table.resolve(s"v$v"))).adds
    val small = adds.count(_.size < targetBytes / 2)
    val vdir = table.resolve(s"v$v")
    val floor =
      if (Files.exists(vdir.resolve(PartsManifest)))
        math.max(maxSmallFiles, readPartsManifest(vdir).size)
      else maxSmallFiles
    if (small <= floor) None
    else {
      // post-compact live count: manifested tables land one file per
      // (bucket, byte-target split); flat tables land ⌈bytes/target⌉ —
      // skip when the rewrite wouldn't reduce the file population
      val postCount =
        if (Files.exists(vdir.resolve(PartsManifest))) {
          val manifest = readPartsManifest(vdir)
          val bytes = manifest.toSeq.map { case (part, ver) =>
            dirBytes(table.resolve(s"v$ver").resolve(part))
          }.sum
          val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          val splitsPerBucket = math.max(1L, (n + manifest.size - 1) / manifest.size).toInt
          manifest.size * splitsPerBucket
        } else fileCountFor(vdir, targetBytes)
      if (postCount >= adds.size) None
      else Some(compact(spark, table, targetBytes))
    }
  }

  /** Small-file compaction: rewrite the committed state of `table` into
    * ⌈bytes/targetBytes⌉ files as a new version (a narrow coalesce for a
    * plain table; one file per bucket split for a partition-manifested
    * one). A table with no committed version fails loudly.
    * Incremental loads accrete one file per micro-batch/run; thousands of
    * tiny files turn a 100 TB scan into a metadata storm (one task + one
    * open per file), so compaction is scheduled maintenance, not an
    * optimization. Returns the target file count. */
  def compact(spark: SparkSession, table: Path, targetBytes: Long = 128L << 20): Int =
    currentVersion(table) match {
      // partition-manifested table: the latest version dir holds ONLY the
      // partitions its commit rewrote — compacting just that dir would
      // silently drop every carried partition. Full compaction = read the
      // composed state and commit it as a new all-partitions version
      // (every partition now owned by the new version; older versions
      // become vacuumable).
      case Some(v) if Files.exists(table.resolve(s"v$v").resolve(PartsManifest)) &&
          readPartsManifest(table.resolve(s"v$v")).isEmpty =>
        0 // empty bootstrap commit: no partitions exist, nothing to compact
      case Some(v) if Files.exists(table.resolve(s"v$v").resolve(PartsManifest)) =>
        val manifest = readPartsManifest(table.resolve(s"v$v"))
        val partCol = manifest.keys.head.split("=", 2)(0)
        val composed = readPartitionedVersion(spark, table)
        val bytes = manifest.toSeq.map { case (part, ver) =>
          dirBytes(table.resolve(s"v$ver").resolve(part))
        }.sum
        val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        // one file per (bucket, split): repartitioning on the partition
        // column alone would emit exactly one file per bucket no matter
        // how large (a 10 GB bucket must split to honor targetBytes), so
        // buckets subdivide by a deterministic hash of the full row —
        // splitsPerBucket sizes the subdivision to the byte target
        val splitsPerBucket = math.max(1L, (n + manifest.size - 1) / manifest.size).toInt
        val target = manifest.size * splitsPerBucket
        val rowSplit = org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(
            composed.columns.map(composed(_)).toIndexedSeq: _*),
          org.apache.spark.sql.functions.lit(splitsPerBucket))
        val landed = commitPartitions(
          composed.repartition(target, composed(partCol), rowSplit), table, partCol)
        // landed == v+1 proves no writer interleaved between the compose
        // read (v) and the commit, so the new state is VISIBLY identical
        // to v — record it, and change feeds across this commit become
        // metadata-only instead of an all-buckets diff. Written after the
        // commit: a crash leaves the marker absent (slower, never wrong).
        if (landed == v + 1)
          Files.write(table.resolve(s"v$landed").resolve(StateIdenticalMarker),
            v.toString.getBytes("UTF-8"))
        target
      // versioned table: compaction is just another commit of the latest
      // snapshot, rewritten into fewer files — never touch the layout
      // (walking the table directory would read EVERY retained version)
      case Some(v) =>
        val dir = table.resolve(s"v$v")
        // a metadata-only version (shallow clone) has no local bytes to
        // size by — compacting it MATERIALIZES the clone (reads through
        // the log's absolute adds, writes owned files): the protocol's
        // clone-materialization operation, and the moment the source
        // pin becomes releasable
        val n = math.max(1, fileCountFor(dir, targetBytes))
        commitVersion(readVersionDir(spark, dir).coalesce(n), table)
        n
      case None =>
        throw new IllegalStateException(s"no committed version to compact at $table")
    }

  /** Re-hash a `pbucket`-manifested table to `newN` buckets in ONE commit —
    * bucket-count evolution for a layout whose `nParts` was frozen at table
    * creation (MergeOps.prunedConditionalUpsert's geometry). The commit is
    * state-identical and FEED-INVISIBLE: every row passes through unchanged
    * (audit columns included), so the pk-level change feed across the
    * rebucket version is EMPTY and downstream incremental consumers see
    * nothing happen. Old partition names the new hash does not reproduce
    * are dropped in the same commit — a sparse new geometry must not leave
    * a stale old directory silently carried. One shuffle on the new bucket
    * key sizes output files to one-plus per bucket; the full-table rewrite
    * IS the operation, not overhead, and runs at O(table)/newN parallelism.
    * Records the new geometry in the table's `_GEOMETRY.json` marker, so a
    * later pruned write still passing the OLD `nParts` fails loudly
    * instead of silently duplicating keys. */
  def rebucket(spark: SparkSession, table: Path, pk: Seq[String], newN: Int,
      keepVersions: Int = 1, fileStats: Boolean = true): Long = {
    require(newN >= 1, s"newN must be >= 1 (got $newN)")
    val v = currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table"))
    require(Files.exists(table.resolve(s"v$v").resolve(PartsManifest)),
      s"$table is not partition-manifested — rebucket applies to pbucket layouts")
    val composed = readPartitionedVersion(spark, table).drop("pbucket")
    val bucket = MergeOps.pkBucket(pk, newN)
    // dropAbsent: every old partition name the new hash does not reproduce
    // drops in the SAME commit (computed from the staged write — no extra
    // pre-scan); the in-commit _GEOMETRY marker makes the new nParts land
    // atomically WITH the layout, so no crash or concurrent-writer window
    // can observe 16-way data under an 8-way marker or vice versa
    val committed = commitPartitions(
      composed.withColumn("pbucket", bucket)
        .repartition(newN, org.apache.spark.sql.functions.col("pbucket")),
      table, "pbucket", keepVersions = keepVersions,
      fileStats = fileStats, dropAbsent = true,
      extraFiles = Map(GeometryFile -> geometryJson(newN)))
    setGeometry(table, newN) // best-effort root sync for the legacy fallback
    committed
  }

  /** Hard-purge retained history — the COMPLIANCE companion to a row
    * delete: [[MergeOps.prunedDelete]] removes rows from the CURRENT
    * state, but retained versions keep serving them through time travel
    * and the change feed until vacuum passes them (indefinitely on a
    * low-traffic table). This drops retention to 1, compacts the current
    * state into a fresh version, and pushes the pre-purge version out of
    * the keep window with one metadata-only (partitioned) or one rewrite
    * (plain) commit — after it returns, only the current state's bytes
    * remain on disk. Irreversible by design. */
  def purgeHistory(spark: SparkSession, table: Path): Unit = {
    setRetention(table, 1)
    compact(spark, table)
    currentVersion(table).foreach { v =>
      val vdir = table.resolve(s"v$v")
      if (Files.exists(vdir.resolve(PartsManifest))) {
        val manifest = readPartsManifest(vdir)
        // empty-manifest bootstrap: compact was a no-op, nothing to purge
        if (manifest.nonEmpty) {
          val partCol = manifest.keys.head.split("=", 2)(0)
          commitPartitions(
            readPartitionedVersion(spark, table).limit(0), table, partCol)
        }
      } else
        // plain versioned table: one more same-state commit pushes the
        // pre-purge version out of the window; its vacuum sweeps it
        commitVersion(readVersionDir(spark, vdir), table)
    }
  }

  private def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .mapToLong(Files.size).sum()
    finally s.close()
  }

  private def fileCountFor(dir: Path, targetBytes: Long): Int =
    math.max(1L, (dirBytes(dir) + targetBytes - 1) / targetBytes).toInt

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p) // close: Files.walk leaks an fd per call otherwise
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def path(dir: String, name: String): Path = Paths.get(dir, name)
}
