package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.ops.{AsOf, MatViews, MetaAgg, Storage}
import graft.plans.MatViewJoinRewrite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One benchmark workload, over inputs the generator wrote beforehand
  * (`ctx.in`). The harness calls, in order: [[fixture]] (untimed set-up),
  * then [[writeStep]] in a closed loop for the write phase,
  * [[prepareReads]] (untimed), then [[readStep]] in a closed loop for the
  * read phase, then [[checks]]. */
trait Workload {
  def name: String
  def params: Map[String, Any]
  def fixture(dir: Path): Unit
  /** One write-phase iteration; false when the generated inputs ran out. */
  def writeStep(i: Int): Boolean
  def prepareReads(): Unit
  def readStep(i: Int): Boolean
  /** Fewest read steps a run makes, however long they take. */
  def minReadSteps: Int = 1
  /** Output checks against ground truth, run after the measured phases. */
  def checks: Seq[(String, () => (Boolean, String))]
  /** End-to-end figures, under the names the benchmark doc uses. */
  def named: Seq[Metric]
  /** The sample kinds behind write_p50_s and read_p50_s. */
  def writeKind: String
  def readKind: String
  /** Items per second of the write and read phases. */
  def writeRate: Metric
  def readRate: Metric
  /** Per-layer figures that are counts or ratios rather than span times. */
  def layerCounts: Map[String, Double]
}

object Workload {
  def p50(ctx: Ctx, kind: String, name: String): Metric =
    Metric(name, Stats.median(ctx.values(kind)), "s", ctx.values(kind).size)
  def rate(ctx: Ctx, items: Double, kinds: Seq[String], name: String, unit: String): Metric =
    Metric(name, items / kinds.flatMap(ctx.values).sum, unit, kinds.map(ctx.values(_).size).sum)
}

/** The reference DAG as a sequence of incremental loads, each followed by
  * a star-view refresh and scheduled compaction (write phase); then
  * analyst reads over the warehouse the loads left, at pinned versions
  * (read phase). */
final class EltIncremental(ctx: Ctx) extends Workload {
  val name = "elt_incremental"
  /** PK-hash buckets of the stg tables */
  val buckets = 4
  private val in = ctx.in
  private val maxLoads = ctx.manifest.param("loads").toInt
  private val deltaRows: Map[Int, Long] = ctx.manifest.perStep("delta_rows") {
    case org.json4s.JInt(v) => v.toLong
    case v => throw new IllegalArgumentException(s"delta_rows: $v")
  }
  private var wh: Warehouse = _
  private var marts: MartMix = _
  private var rowsIn = 0L
  private val diffs = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def params: Map[String, Any] = ctx.manifest.params ++ Map("buckets" -> buckets,
    "mart_mix" -> MartMix.Names,
    "navigable_share" -> MartMix.Names.count(_.startsWith("nav_")).toDouble / MartMix.Names.size)
  def fixture(dir: Path): Unit = {
    wh = new Warehouse(ctx, dir, in, buckets)
    wh.load(0)
    wh.refresh()
  }
  def writeStep(i: Int): Boolean = {
    val load = i + 1
    if (load > maxLoads) return false
    val before = if (ctx.tracer.on) DirStats.snapshot(wh.tables) else Map.empty[String, Long]
    ctx.op("load")(wh.load(load)).foreach { _ =>
      val (rw, total) = wh.bucketsRewritten()
      ctx.add("buckets_rewritten_ratio", rw.toDouble / total)
      rowsIn += deltaRows(load)
      if (ctx.tracer.on) diffs += DirStats.diff(before, DirStats.snapshot(wh.tables),
        DirStats.bytes(Seq("orders", "customers", "takedowns").map(t => in.resolve(t).resolve(s"load=$load"))))
    }
    ctx.op("refresh")(wh.refresh()).foreach(g => ctx.add("recomputed_groups", g.toDouble))
    true
  }

  def prepareReads(): Unit = {
    marts = new MartMix(ctx, wh, ctx.manifest.param("orders0").toInt, wh.loadsDone)
    marts.prepare()
  }
  def readStep(i: Int): Boolean = { marts.pass(); true }

  def checks: Seq[(String, () => (Boolean, String))] = wh.checks(wh.loadsDone) ++ marts.checks

  def named: Seq[Metric] = Seq(
    Workload.p50(ctx, "load", "load_p50_s"),
    Workload.p50(ctx, "refresh", "refresh_p50_s"),
    writeRate.copy(name = "elt_rows_per_s"),
    Workload.p50(ctx, "query_nav", "query_nav_p50_s"),
    Workload.p50(ctx, "query_scan", "query_scan_p50_s"),
    readRate.copy(name = "queries_per_s"))
  def writeKind = "load"
  def readKind = "query"
  def writeRate: Metric = Workload.rate(ctx, rowsIn.toDouble, Seq("load", "refresh"), "write_rate", "rows/s")
  def readRate: Metric = Workload.rate(ctx, ctx.values("query").size.toDouble, Seq("query"), "read_rate", "q/s")
  def layerCounts: Map[String, Double] = Map(
    "merge.buckets_rewritten_ratio" -> Stats.median(ctx.values("buckets_rewritten_ratio")),
    "matviews.recomputed_groups" -> Stats.median(ctx.values("recomputed_groups"))) ++
    DirStats.perOp(diffs.toSeq) ++
    Option(marts).map(_.layerCounts).getOrElse(Map.empty)
}

object MartMix {
  /** The tables a query reads; the engine and the ground truth each give one. */
  trait Srcs {
    def orders: DataFrame; def customers: DataFrame; def nation: DataFrame
    def fact: DataFrame; def dimHistory: DataFrame; def dimBeforeLastLoad: DataFrame
    def factRange(lo: Long, hi: Long): DataFrame
  }
  final case class Q(name: String, nav: Boolean, read: Srcs => Seq[DataFrame],
      shape: Seq[DataFrame] => DataFrame)

  val Names: Seq[String] = Seq("nav_count_sum", "nav_min_max", "nav_all_partials",
    "nav_top_nations", "nav_count_max", "scan_segment_revenue", "scan_top_orders",
    "scan_asof_nation", "scan_time_travel_dim", "scan_pruned_range")
}

/** Analyst reads over the warehouse after loads 0..n, at those pinned
  * versions: navigable star aggregates served from the maintained view
  * through the registered star rewrite, and reads the view cannot serve
  * (other group-bys, top-k, an as-of join, time travel, a stats-pruned
  * range read). One pass runs every query of the mix once, in an order
  * fixed by the seed. */
final class MartMix(ctx: Ctx, wh: Warehouse, orders0: Int, n: Int) {
  import MartMix.{Q, Srcs}
  private def spark = ctx.spark
  private val rnd = new scala.util.Random(ctx.seed ^ 0x5eedL)
  private val rangeLo = 1L + rnd.nextInt(orders0 - orders0 / 20)
  private val rangeHi = rangeLo + orders0 / 20

  private val engine: Srcs = new Srcs {
    def orders = Storage.readPartitionedVersion(spark, wh.stgOrders)
    def customers = Storage.readPartitionedVersion(spark, wh.stgCustomers)
    def nation = Storage.readPartitionedVersion(spark, wh.nation)
    def fact = Storage.readPartitionedVersion(spark, wh.fact)
    def dimHistory = Storage.readVersion(spark, wh.dim)
    def dimBeforeLastLoad = Storage.readVersionAt(spark, wh.dim, wh.dimVersionOf(n - 1))
    def factRange(lo: Long, hi: Long) =
      MetaAgg.readPrunedWhere(spark, wh.fact, Seq(MetaAgg.NumRange("o_orderkey", lo, hi)))
  }
  private val truth: Srcs = new Srcs {
    private def at(c: org.apache.spark.sql.Column) =
      timestamp_seconds(lit(Warehouse.epochOf(0)) + c * 86400L)
    def orders = wh.truthOrders(n)
    def customers = wh.truthCustomers(n)
    def nation = wh.truthNation
    def fact = wh.truthFact(n).withColumn("inserted_at", at(col("load")))
    def dimHistory = wh.customerHistory(n).withColumn("valid_from", at(col("load")))
    def dimBeforeLastLoad = wh.truthCustomers(n - 1).withColumn("is_current", lit(true))
    def factRange(lo: Long, hi: Long) = fact
  }

  private def star(s: Seq[DataFrame]) =
    s(0).join(s(1), col("o_custkey") === col("c_custkey"))
      .join(s(2), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
  private def starRead(s: Srcs) = Seq(s.orders, s.customers, s.nation)

  private val queries: Seq[Q] = Seq(
    Q("nav_count_sum", nav = true, starRead,
      s => star(s).agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("rev"))),
    Q("nav_min_max", nav = true, starRead,
      s => star(s).agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))),
    Q("nav_all_partials", nav = true, starRead,
      s => star(s).agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("rev"),
        count(col("o_totalprice")).as("n"), min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))),
    Q("nav_top_nations", nav = true, starRead,
      s => star(s).agg(sum(col("o_totalprice")).as("rev"))
        .orderBy(col("rev").desc, col("n_name")).limit(5)),
    Q("nav_count_max", nav = true, starRead,
      s => star(s).agg(count(lit(1)).as("cnt"), max(col("o_totalprice")).as("hi"))),
    Q("scan_segment_revenue", nav = false, s => Seq(s.orders, s.customers),
      s => s(0).join(s(1), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(sum(col("o_totalprice")).as("rev"), count(lit(1)).as("cnt"))),
    Q("scan_top_orders", nav = false, s => Seq(s.orders),
      s => s(0).select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(20)),
    Q("scan_asof_nation", nav = false, s => Seq(s.fact, s.dimHistory),
      s => AsOf.asofJoinLeft(
          s(0).select(col("o_orderkey"), col("o_custkey").as("ck"), col("inserted_at"), col("o_totalprice")),
          s(1).select(col("c_custkey").as("ck"), col("valid_from"), col("c_nationkey").as("nat_at")),
          "ck", "inserted_at", "valid_from", Seq("nat_at"))
        .groupBy(col("nat_at")).agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("rev"))),
    Q("scan_time_travel_dim", nav = false, s => Seq(s.dimBeforeLastLoad),
      s => s(0).filter(col("is_current")).groupBy(col("c_nationkey")).agg(count(lit(1)).as("members"))),
    Q("scan_pruned_range", nav = false, s => Seq(s.factRange(rangeLo, rangeHi)),
      s => s(0).filter(col("o_orderkey").between(rangeLo, rangeHi))
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("rev"))))
  require(queries.map(_.name) == MartMix.Names)
  private val mix: Seq[Q] = new scala.util.Random(ctx.seed).shuffle(queries)
  private val answers = mutable.HashMap.empty[String, Seq[String]]
  private val notNavigated = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private val unstable = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private var navRuns = 0
  private var navHits = 0

  /** Untimed: bring the view to the current base versions (compaction may
    * have moved them), register the star rewrite, and run one pass. */
  def prepare(): Unit = {
    MatViews.maintainStar(spark, wh.sides, wh.view, wh.joinKeys, keys = Seq("n_name"),
      sums = wh.sums, counts = wh.counts, mins = wh.mins, maxs = wh.maxs, keepVersions = 2)
    MatViews.registerStarRewrite(spark, "perfbench_star",
      Seq(wh.stgOrders, wh.stgCustomers, wh.nation), wh.view, wh.joinKeys, keys = Seq("n_name"),
      sums = wh.sums, counts = wh.counts, mins = wh.mins, maxs = wh.maxs)
    rewrite(true)
    mix.foreach(run)
  }

  /** One timed pass over the mix, one operation per query. */
  def pass(): Unit = mix.foreach { q =>
    ctx.op(if (q.nav) "query_nav" else "query_scan", "query")(run(q)).foreach { case (df, out) =>
      if (q.nav) {
        navRuns += 1
        if (navigated(df)) navHits += 1 else notNavigated(q.name) += 1
      }
      answers.get(q.name) match {
        case None => answers(q.name) = out
        case Some(prev) => if (prev != out) unstable(q.name) += 1
      }
    }
  }

  private def rewrite(on: Boolean): Unit = {
    val rest = spark.experimental.extraOptimizations.filterNot(_ eq MatViewJoinRewrite)
    spark.experimental.extraOptimizations = if (on) rest :+ MatViewJoinRewrite else rest
  }
  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
  private def navigated(df: DataFrame): Boolean = {
    val roots = scanRoots(df)
    roots.exists(_.contains(wh.view.toString)) &&
      !roots.exists(r => Seq(wh.stgOrders, wh.stgCustomers, wh.nation).exists(t => r.contains(t.toString)))
  }
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** One query: read-plan build, optimization (where the rewrite runs),
    * execution — each in its own span. */
  private def run(q: Q): (DataFrame, Seq[String]) = {
    val srcs = ctx.layer("storage.read_plan")(q.read(engine))
    val df = q.shape(srcs)
    ctx.layer("plans.optimize")(df.queryExecution.optimizedPlan)
    val out = ctx.layer("exec.run")(rows(df))
    (df, out)
  }

  /** Navigable queries must have navigated on every run and answer as
    * they do with the rewrite off; the others must match ground truth.
    * The rewrite stays off from here on. */
  def checks: Seq[(String, () => (Boolean, String))] = {
    rewrite(false)
    queries.map { q =>
      val got = answers.getOrElse(q.name, Nil)
      if (q.nav) s"${q.name}_navigated_and_equals_rewrite_off" -> { () =>
        val off = rows(q.shape(q.read(engine)))
        (notNavigated(q.name) == 0 && unstable(q.name) == 0 && got == off,
          s"${notNavigated(q.name)} runs not navigated, ${unstable(q.name)} answers changed; " +
            s"answer equals rewrite-off: ${got == off}")
      }
      else s"${q.name}_equals_ground_truth" -> { () =>
        val want = if (q.name == "scan_asof_nation") asofTruth(truth) else rows(q.shape(q.read(truth)))
        (got == want && unstable(q.name) == 0, s"got ${got.take(3)}, want ${want.take(3)}")
      }
    }
  }

  /** The as-of answer by a plain range join: each fact row takes the
    * customer version with the latest load not after its own. */
  private def asofTruth(truth: Srcs): Seq[String] = {
    val f = truth.fact.select(col("o_orderkey"), col("o_custkey"), col("load").as("fl"), col("o_totalprice"))
    val h = wh.customerHistory(n).select(col("c_custkey"), col("load").as("cl"), col("c_nationkey"))
    val cand = f.join(h, col("o_custkey") === col("c_custkey") && col("cl") <= col("fl"))
    val best = cand.groupBy("o_orderkey").agg(max("cl").as("cl"))
    rows(cand.join(best, Seq("o_orderkey", "cl"))
      .groupBy(col("c_nationkey").as("nat_at"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("rev")))
  }

  def layerCounts: Map[String, Double] = Map(
    "plans.nav_hit_ratio" -> (if (navRuns == 0) Double.NaN else navHits.toDouble / navRuns))
}
