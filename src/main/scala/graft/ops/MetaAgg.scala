package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Metadata-only aggregates: COUNT(*) / MIN / MAX answered from the commit's
  * per-file stats — zero data files opened — plus an exact hybrid range
  * COUNT that scans ONLY the files straddling the predicate's boundary.
  *
  * At 100 TB this is the difference between an O(files-metadata) catalog
  * lookup and a full table scan for the queries every pipeline runs
  * constantly ("how many rows landed?", "what's the watermark high-water
  * mark?"). The stats source is the per-version Delta log the commit
  * already writes ([[DeltaInterop.writeCommit0]]'s per-add `stats` JSON:
  * numRecords / minValues / maxValues / nullCount), so it works identically
  * for flat [[Storage.commitVersion]] tables and partition-manifested
  * [[Storage.commitPartitions]] tables — including carried-by-reference
  * buckets, whose adds ride the log with their stats intact.
  *
  * Exactness contract (the gate row's oracle hash-checks it): every answer
  * is EXACT or refused — `None` when any live file lacks usable stats for
  * the asked column (statless commit, unsupported type, ±Inf/NaN-poisoned
  * footer), when a deletion vector is live (tombstoned rows make stats
  * untight — the protocol's `tightBounds: false`), or when min/max could
  * hide behind an all-null file. Callers fall back to the scanning path;
  * they never get an approximation.
  */
object MetaAgg {

  /** One live file's parsed stats. `mins`/`maxs` carry (tag, value) in the
    * same ("i" | "f" | "s", string) form as [[Storage.readFooterStats]]. */
  private final case class FileStat(
      path: String,
      rows: Long,
      tight: Boolean,
      mins: Map[String, (String, String)],
      maxs: Map[String, (String, String)],
      nulls: Map[String, Long],
      hasDv: Boolean)

  /** The current version's live adds with parsed stats, or None when any
    * add carries no stats payload (fileStats=false commits). */
  private def liveStats(table: Path): Option[Seq[FileStat]] =
    liveStatsAt(table, Storage.currentVersion(table).getOrElse(return Some(Seq.empty)))

  /** [[liveStats]] pinned to an explicit retained version — for callers
    * holding a read-snapshot pin (the SCD2 SK high-water mark). */
  private def liveStatsAt(table: Path, v: Long): Option[Seq[FileStat]] =
    statsOf(DeltaInterop.readLog(DeltaInterop.logFile(table.resolve(s"v$v"))))

  private def statsOf(snap: DeltaInterop.Snapshot): Option[Seq[FileStat]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def side(j: JValue): Map[String, (String, String)] = j match {
      case JObject(fields) => fields.flatMap {
        case (c, JInt(n)) => Some(c -> ("i", n.toString))
        case (c, JLong(n)) => Some(c -> ("i", n.toString))
        case (c, JDouble(d)) => Some(c -> ("f", d.toString))
        case (c, JDecimal(d)) => Some(c -> ("f", d.toString))
        case (c, JString(s)) => Some(c -> ("s", s))
        case _ => None
      }.toMap
      case _ => Map.empty
    }
    val parsed = snap.adds.map { a =>
      a.stats.map { s =>
        val j = JsonMethods.parse(s)
        val rows = (j \ "numRecords") match {
          case JLong(n) => n
          case JInt(n) => n.toLong
          case _ => return None // a stats payload without numRecords is unusable
        }
        val tight = (j \ "tightBounds") match {
          case JBool(b) => b
          case _ => true // absent = tight, per the protocol
        }
        val nulls = (j \ "nullCount") match {
          case JObject(fields) => fields.collect {
            case (c, JInt(n)) => c -> n.toLong
            case (c, JLong(n)) => c -> n
          }.toMap
          case _ => Map.empty[String, Long]
        }
        FileStat(a.path, rows, tight,
          side(j \ "minValues"), side(j \ "maxValues"), nulls, a.dv.nonEmpty)
      }.getOrElse(return None)
    }
    Some(parsed)
  }

  private def ord(tag: String)(v: String): (String, BigDecimal) =
    if (tag == "s") (v, BigDecimal(0)) else ("", BigDecimal(v))

  /** Exact row count of the committed version from metadata alone — no
    * data file opened. numRecords is physical (row-index space), but each
    * add's deletionVector descriptor carries its exact cardinality, so
    * the VISIBLE count is Σ(numRecords − dv.cardinality) — still exact
    * under merge-on-read deletes. None only when a live file is statless. */
  def rowCount(table: Path): Option[Long] = {
    val v = Storage.currentVersion(table).getOrElse(return Some(0L))
    rowCountOf(DeltaInterop.readLog(DeltaInterop.logFile(table.resolve(s"v$v"))).adds)
  }

  private def rowCountOf(adds: Seq[DeltaInterop.Add]): Option[Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val per = adds.map { a =>
      a.stats.flatMap { s =>
        (JsonMethods.parse(s) \ "numRecords") match {
          case JLong(n) => Some(n)
          case JInt(n) => Some(n.toLong)
          case _ => None
        }
      }.map(_ - a.dv.map(_.cardinality).getOrElse(0L))
    }
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** Exact MIN/MAX of `column` from metadata alone, as (tag, min, max) in
    * the footer-stats string form. Refuses (None) unless EVERY live file
    * with a potential value contributes: a file missing the column's
    * min/max entry only passes when its nullCount proves the column is
    * all-null there — otherwise the file might hide the true extremum. */
  def columnRange(table: Path, column: String): Option[(String, String, String)] =
    columnRange0(liveStats(table), column)

  /** [[columnRange]] pinned to a retained version (read-snapshot callers). */
  private[ops] def columnRangeAt(
      table: Path, v: Long, column: String): Option[(String, String, String)] =
    columnRange0(liveStatsAt(table, v), column)

  private def columnRange0(
      stats: Option[Seq[FileStat]], column: String): Option[(String, String, String)] =
    stats.flatMap { fs =>
      if (fs.exists(f => f.hasDv || !f.tight)) return None
      val contributing = fs.filter(f => f.rows > 0 &&
        !f.nulls.get(column).contains(f.rows)) // all-null files carry no values
      if (contributing.isEmpty) return None // empty or all-null: no MIN/MAX from metadata
      if (!contributing.forall(f =>
        f.mins.contains(column) && f.maxs.contains(column))) return None
      val tag = contributing.head.mins(column)._1
      if (contributing.exists(f => f.mins(column)._1 != tag)) return None
      Some((tag,
        contributing.map(_.mins(column)._2).minBy(ord(tag)),
        contributing.map(_.maxs(column)._2).maxBy(ord(tag))))
    }

  /** EXACT `COUNT(*) WHERE lo <= column <= hi` (numeric), scanning only the
    * files whose [min, max] STRADDLES a boundary: fully-inside files are
    * counted as numRecords − nullCount from metadata, fully-outside files
    * contribute zero, and only the remainder is read. At 100 TB with a
    * clustered/z-ordered layout the boundary set is O(1) files per
    * predicate edge — the scan cost of the answer stops depending on the
    * selectivity of the range.
    *
    * Falls back to the full pruned-read path when metadata cannot decide
    * exactly (statless or DV'd files, missing nullCount, non-numeric tag).
    */
  def countWhere(spark: SparkSession, table: Path, column: String,
      lo: BigDecimal, hi: BigDecimal): Long = {
    def fallback(): Long = {
      val df = readAny(spark, table)
      df.filter(col(column) >= lit(lo.toString).cast(df.schema(column).dataType)
          && col(column) <= lit(hi.toString).cast(df.schema(column).dataType))
        .count()
    }
    liveStats(table) match {
      case None => fallback()
      case Some(fs) =>
        if (fs.exists(f => f.hasDv || !f.tight)) return fallback()
        var metaCount = 0L
        val boundary = Seq.newBuilder[String]
        fs.foreach { f =>
          (f.mins.get(column), f.maxs.get(column), f.nulls.get(column)) match {
            case _ if f.rows == 0 => ()
            case (_, _, Some(nn)) if nn == f.rows => () // all-null: no matches
            case (Some((t1, mn)), Some((t2, mx)), nn)
                if (t1 == "i" || t1 == "f") && t1 == t2 =>
              val (mnD, mxD) = (BigDecimal(mn), BigDecimal(mx))
              if (mxD < lo || mnD > hi) () // fully outside
              else if (mnD >= lo && mxD <= hi) nn match {
                case Some(n) => metaCount += f.rows - n // fully inside, exactly
                case None => boundary += f.path // can't subtract nulls: read it
              }
              else boundary += f.path // straddles an edge: read it
            case _ => boundary += f.path // no usable stats: read it
          }
        }
        val files = boundary.result()
        if (files.isEmpty) metaCount
        else {
          val v = Storage.currentVersion(table).get
          val vdir = table.resolve(s"v$v")
          val paths = files.map { p =>
            if (p.startsWith("file:")) p // carried add: absolute URI form
            else vdir.resolve(p).toString
          }
          val scanned = spark.read.parquet(paths: _*)
          // a partition column's values live in DIRECTORY names, not file
          // bytes — a raw path read drops it, so the boundary scan cannot
          // evaluate the predicate. Take the documented full-read fallback
          // (readAny materializes partition dirs through its basePath).
          if (!scanned.columns.contains(column)) return fallback()
          metaCount + scanned.filter(
            col(column) >= lit(lo.toString).cast(scanned.schema(column).dataType)
              && col(column) <= lit(hi.toString).cast(scanned.schema(column).dataType))
            .agg(count(lit(1))).first().getLong(0)
        }
    }
  }

  /** A per-column range predicate for [[readPrunedWhere]]: a file is
    * handed to the scan only if its stats-range on EVERY predicate's
    * column intersects that predicate (conjunctive semantics — the file
    * must be able to satisfy `lo1<=c1<=hi1 AND lo2<=c2<=hi2 ...`). */
  sealed trait RangePred { def column: String }
  /** Numeric bounds (INT32/INT64/FLOAT/DOUBLE stats). */
  final case class NumRange(column: String, lo: BigDecimal, hi: BigDecimal)
      extends RangePred
  /** String bounds. Pruning applies only when the bounds AND the file's
    * min/max are pure ASCII, where Java's lexicographic order coincides
    * with Spark's UTF8-binary comparison — anything else conservatively
    * keeps the file (never wrong, just unpruned). */
  final case class StrRange(column: String, lo: String, hi: String)
      extends RangePred

  private def asciiOnly(s: String): Boolean = s.forall(_ < 0x80)

  /** Whether `f`'s stats-range on `r.column` can intersect `r` — true
    * (keep) whenever the stats are missing, mistyped, or outside the
    * comparison's safe domain. */
  private def mayMatch(f: FileStat, r: RangePred): Boolean =
    (f.mins.get(r.column), f.maxs.get(r.column)) match {
      case (Some((t1, mn)), Some((t2, mx))) => r match {
        case NumRange(_, lo, hi) if (t1 == "i" || t1 == "f") && t1 == t2 =>
          BigDecimal(mx) >= lo && BigDecimal(mn) <= hi
        case StrRange(_, lo, hi) if t1 == "s" && t2 == "s" &&
            asciiOnly(mn) && asciiOnly(mx) && asciiOnly(lo) && asciiOnly(hi) =>
          mx >= lo && mn <= hi
        case _ => true // tag/predicate mismatch: conservatively keep
      }
      case _ => true // no usable stats: conservatively keep
    }

  /** Range-pruned read of EITHER table flavor, driven by the per-file
    * stats in the current version's Delta log: only files whose [min, max]
    * on `column` intersects [lo, hi] are handed to the scan, composing with the manifest's bucket-level pruning (carried
    * adds keep their stats in the log, so long-carried buckets prune as
    * well as fresh ones). Semantically identical to reading the table and
    * filtering — the caller still applies its own predicate; this just
    * hands Spark fewer files. Falls back to the full read when a live
    * deletion vector or statless add makes file-level pruning unsafe
    * (the DV anti-join needs the whole selected-bucket file set). */
  def readPruned(spark: SparkSession, table: Path, column: String,
      lo: BigDecimal, hi: BigDecimal): DataFrame =
    readPrunedWhere(spark, table, Seq(NumRange(column, lo, hi)))

  /** [[readPruned]] generalized to a CONJUNCTION of per-column ranges,
    * numeric or string-typed — the multi-dimensional completion that a
    * z-ordered layout earns: a z-order on (c1, c2) clusters BOTH
    * columns' ranges per file, so `c1 BETWEEN ... AND c2 BETWEEN ...`
    * prunes multiplicatively from the same one-pass metadata scan. */
  def readPrunedWhere(spark: SparkSession, table: Path,
      ranges: Seq[RangePred]): DataFrame = {
    val v = Storage.currentVersion(table).getOrElse(return readAny(spark, table))
    val vdir = table.resolve(s"v$v")
    // one log parse: the stats to prune by and the schema to type by
    val snap = DeltaInterop.readLog(DeltaInterop.logFile(vdir))
    statsOf(snap) match {
      case None => readAny(spark, table)
      case Some(fs) =>
        if (fs.exists(f => f.hasDv || !f.tight)) return readAny(spark, table)
        val kept = fs.filter(f => ranges.forall(r => mayMatch(f, r)))
        val declared = snap.schema
        // everything pruned: the empty frame types from the DECLARED
        // schema — opening a data file just to learn the shape would
        // break the zero-reads contract (and a limit(0) over the full
        // read still touches footers)
        if (kept.isEmpty) return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
        // group by the version dir that OWNS each file's bytes (own adds
        // live under the current dir, carried adds are absolute URIs into
        // older dirs) and read each group against its own basePath so the
        // partition-dir column materializes — the same composition as the
        // storage read path, minus the pruned-away files
        import org.apache.spark.sql.functions.{col => c, lit => l}
        val groups = kept.groupBy { f =>
          if (!f.path.startsWith("file:")) vdir
          else {
            val abs = java.nio.file.Paths.get(java.net.URI.create(f.path))
            if (abs.getParent.getFileName.toString.contains("="))
              abs.getParent.getParent
            else abs.getParent
          }
        }
        val composed = groups.toSeq.sortBy(_._1.toString).map { case (base, adds) =>
          val paths = adds.map(f =>
            if (f.path.startsWith("file:")) f.path else vdir.resolve(f.path).toString)
          spark.read.option("basePath", base.toString).parquet(paths: _*)
        }.reduce(_.unionByName(_, allowMissingColumns = true))
        val present = composed.columns.toSet
        composed.select(declared.map { f =>
          if (present.contains(f.name)) c(f.name).cast(f.dataType).as(f.name)
          else l(null).cast(f.dataType).as(f.name)
        }: _*)
    }
  }

  /** The table's retained commit history, newest last — the DESCRIBE
    * HISTORY shape, computed ENTIRELY from metadata (version dirs,
    * manifests, per-version log stats; no data reads): per retained
    * version its visible row count (exact, DV-aware; null when a
    * statless commit makes it unknowable), how many partitions the
    * commit owns vs carries by reference (the write-amplification
    * ledger), and its live tombstone count (the log's deletion-vector
    * cardinalities). One log parse per version. */
  def history(spark: SparkSession, table: Path): DataFrame = {
    import spark.implicits._
    val cur = Storage.currentVersion(table).getOrElse(-1L)
    val rows = (0L to cur).flatMap { v =>
      val vdir = table.resolve(s"v$v")
      if (!Files.exists(vdir)) None // vacuumed
      else {
        val manifest =
          if (Files.exists(vdir.resolve("_PARTS.json")))
            Some(Storage.readPartsManifest(vdir))
          else None
        val own = manifest.map(_.count(_._2 == v).toLong)
        val carried = manifest.map(m => (m.size - m.count(_._2 == v)).toLong)
        val adds = DeltaInterop.readLog(DeltaInterop.logFile(vdir)).adds
        val dvRows = adds.flatMap(_.dv).map(_.cardinality).sum
        Some((v, manifest.fold("full")(_ => "partitioned"),
          rowCountOf(adds), own.getOrElse(0L), carried.getOrElse(0L), dvRows))
      }
    }
    rows.toDF("version", "kind", "row_cnt", "own_parts", "carried_parts", "dv_rows")
  }

  /** Read the current version of either table flavor (manifest-partitioned
    * or flat) — the scanning fallback's entry point. */
  private def readAny(spark: SparkSession, table: Path): DataFrame = {
    val v = Storage.currentVersion(table).getOrElse(
      throw new IllegalStateException(s"no committed version at $table"))
    if (Files.exists(table.resolve(s"v$v").resolve("_PARTS.json")))
      Storage.readPartitionedVersion(spark, table)
    else Storage.readVersion(spark, table)
  }
}
