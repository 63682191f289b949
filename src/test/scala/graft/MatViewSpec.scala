package graft

import java.nio.file.Files

import graft.ops.Storage
import graft.plans.{MatView, MatViewRewrite}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Transparent materialized-view rewrite: matching aggregates over a
  * registered base scan re-plan onto the maintained view (rollup from
  * partials); every guard fails toward scanning the base. */
class MatViewSpec extends SparkTestBase {

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def withRule[A](body: => A): A = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ MatViewRewrite
    try body
    finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
      MatView.clear()
    }
  }

  /** base(k1 string, k2 long, x decimal) + its (k1,k2) view, registered. */
  private def fixture(): (java.nio.file.Path, java.nio.file.Path) = {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_fix")
    val base = root.resolve("base")
    val view = root.resolve("view")
    val rows = (1 to 500).map { i =>
      (s"t${i % 3}", (i % 7).toLong, BigDecimal(i) / 100)
    }.toDF("k1", "k2", "x")
      .select(col("k1"), col("k2"), col("x").cast("decimal(38,6)").as("x"))
    Storage.commitVersion(rows, base)
    val v = Storage.readVersion(spark, base)
      .groupBy("k1", "k2")
      .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x"),
        min("x").as("min_x"), max("x").as("max_x"))
    Storage.commitVersion(v, view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    MatView.register(MatView.Def(
      name = "t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x"), mins = Map("x" -> "min_x"),
      maxs = Map("x" -> "max_x")))
    (base, view)
  }

  /** Re-register the [[fixture]] view (tests clear the registry to
    * compute truths without the rewrite). */
  private def reRegister(base: java.nio.file.Path, view: java.nio.file.Path): Unit = {
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    MatView.register(MatView.Def(
      name = "t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x"), mins = Map("x" -> "min_x"),
      maxs = Map("x" -> "max_x")))
  }

  test("matching aggregate re-plans onto the view; results identical") {
    val (base, view) = fixture()
    withRule {
      val q = Storage.readVersion(spark, base).groupBy("k1", "k2")
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"),
          min("x").as("mn"), max("x").as("mx"))
      val paths = scanPaths(q)
      assert(paths.exists(_.contains(view.toString)), s"expected view scan, got $paths")
      assert(!paths.exists(_.contains(base.toString)), s"base must not be scanned: $paths")
      MatView.clear() // compute the truth WITHOUT the rewrite
      val truth = Storage.readVersion(spark, base).groupBy("k1", "k2")
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"),
          min("x").as("mn"), max("x").as("mx"))
      assert(q.orderBy("k1", "k2").collect().toSeq ==
        truth.orderBy("k1", "k2").collect().toSeq)
    }
  }

  test("subset-key rollup with a key filter rewrites and re-aggregates") {
    val (base, view) = fixture()
    withRule {
      val q = Storage.readVersion(spark, base)
        .filter(col("k2") >= 2 && col("k2") <= 5)
        .groupBy("k1")
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"), max("x").as("mx"))
      assert(scanPaths(q).exists(_.contains(view.toString)))
      MatView.clear()
      val truth = Storage.readVersion(spark, base)
        .filter(col("k2") >= 2 && col("k2") <= 5)
        .groupBy("k1")
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"), max("x").as("mx"))
      assert(q.orderBy("k1").collect().toSeq == truth.orderBy("k1").collect().toSeq)
    }
  }

  test("global (no-group) aggregate rewrites too") {
    val (base, view) = fixture()
    withRule {
      val q = Storage.readVersion(spark, base).agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      assert(scanPaths(q).exists(_.contains(view.toString)))
      val Array(row) = q.collect()
      assert(row.getLong(0) == 500)
    }
  }

  test("stale view falls back to the base scan") {
    val (base, view) = fixture()
    val d = MatView.all.head
    MatView.register(d.copy(fresh = () => false))
    withRule {
      val q = Storage.readVersion(spark, base).groupBy("k1", "k2")
        .agg(count(lit(1)).as("cnt"))
      val paths = scanPaths(q)
      assert(paths.exists(_.contains(base.toString)))
      assert(!paths.exists(_.contains(view.toString)))
    }
  }

  test("unsupported shapes leave the plan untouched") {
    val (base, view) = fixture()
    withRule {
      // DECIMAL avg never rewrites (Average's decimal precision
      // bookkeeping differs from an explicit Divide — double family only)
      val q1 = Storage.readVersion(spark, base).groupBy("k1").agg(avg("x").as("a"))
      assert(!scanPaths(q1).exists(_.contains(view.toString)))
      // distinct count over a MEASURE cannot come from partials (a view
      // KEY column is the exact exception — covered below)
      val q2 = Storage.readVersion(spark, base).groupBy("k1")
        .agg(countDistinct("x").as("d"))
      assert(!scanPaths(q2).exists(_.contains(view.toString)))
      // filter on a NON-key column does not commute with the group-by
      val q3 = Storage.readVersion(spark, base).filter(col("x") > 1)
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(q3).exists(_.contains(view.toString)))
      // a base commit changes the scanned version dir — auto-invalidation
      Storage.commitVersion(Storage.readVersion(spark, base).limit(10), base)
      val q4 = Storage.readVersion(spark, base).groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(q4).exists(_.contains(view.toString)))
      assert(q4.collect().map(_.getLong(1)).sum == 10)
    }
  }

  test("AVG and COUNT(col) rewrite from sum + non-null-count partials, correctly re-weighted") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_avg")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // y: integer-valued doubles with nulls — count(y) != count(*) and
    // every sum is exact, so view path and base path agree bit-for-bit
    val rows = (1 to 400).map { i =>
      (s"k${i % 3}", (i % 5).toLong,
        if (i % 11 == 0) None else Some(i.toDouble))
    }.toDF("k1", "k2", "y")
    Storage.commitVersion(rows, base)
    val v = Storage.readVersion(spark, base).groupBy("k1", "k2")
      .agg(count(lit(1)).as("count_rows"), sum("y").as("sum_y"),
        count("y").as("cnt_y"))
    Storage.commitVersion(v, view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    MatView.register(MatView.Def(
      name = "avg_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("y" -> "sum_y"), counts = Map("y" -> "cnt_y")))
    withRule {
      def shape(df: DataFrame) = df.groupBy("k1")
        .agg(avg("y").as("a"), count(col("y")).as("c"), count(lit(1)).as("n"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)),
        "avg/count(col) must rewrite onto the view")
      // the rollup crosses k2 groups of UNEQUAL size: sum/count weighting
      // is exercised (an average-of-averages would be wrong here)
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got == want, s"rewritten avg diverged:\n got  $got\n want $want")
      assert(want.exists(r => r.getLong(2) != r.getLong(3)),
        "fixture must make count(y) differ from count(*)")
      // a GLOBAL avg re-weights across every group
      MatView.register(MatView.Def(
        name = "avg_t", baseRoots = () => Set(MatView.root(vdir)),
        view = () => Storage.readVersion(spark, view),
        keys = Seq("k1", "k2"), countCol = Some("count_rows"),
        sums = Map("y" -> "sum_y"), counts = Map("y" -> "cnt_y")))
      val g = Storage.readVersion(spark, base).agg(avg("y").as("a"))
      assert(scanPaths(g).exists(_.contains(view.toString)))
      val gGot = g.collect().head.getDouble(0)
      MatView.clear()
      val gWant = Storage.readVersion(spark, base).agg(avg("y").as("a"))
        .collect().head.getDouble(0)
      assert(gGot == gWant)
    }
    Storage.deleteRecursively(root)
  }

  test("ROLLUP / CUBE / GROUPING SETS re-plan onto the view with Expand semantics intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_rollup")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // a GENUINE null key — the rewrite must keep it distinguishable from
    // the rollup's own null placeholders (spark_grouping_id mechanics)
    val rows = (1 to 300).map { i =>
      (if (i % 7 == 0) None else Some(s"k${i % 3}"), (i % 4).toLong,
        BigDecimal(i), if (i % 11 == 0) None else Some(i.toDouble))
    }.toDF("k1", "k2", "x", "y")
      .select(col("k1"), col("k2"), col("x").cast("decimal(38,6)").as("x"), col("y"))
    Storage.commitVersion(rows, base)
    val v = Storage.readVersion(spark, base).groupBy("k1", "k2")
      .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x"),
        min("x").as("min_x"), max("x").as("max_x"),
        sum("y").as("sum_y"), count("y").as("cnt_y"))
    Storage.commitVersion(v, view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def register(): Unit = MatView.register(MatView.Def(
      name = "roll_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x", "y" -> "sum_y"),
      mins = Map("x" -> "min_x"), maxs = Map("x" -> "max_x"),
      counts = Map("y" -> "cnt_y")))
    register()
    withRule {
      def shapes(df: DataFrame): Seq[DataFrame] = Seq(
        df.rollup("k1", "k2").agg(count(lit(1)).as("cnt"), sum("x").as("s"),
          min("x").as("mn"), avg("y").as("a")),
        df.cube("k1", "k2").agg(max("x").as("mx"), count(col("y")).as("c")),
        df.filter(col("k2") =!= 2L).rollup("k1")
          .agg(sum("x").as("s"), count(lit(1)).as("cnt")))
      val qs = shapes(Storage.readVersion(spark, base))
      qs.foreach { q =>
        val paths = scanPaths(q)
        assert(paths.exists(_.contains(view.toString)),
          s"rollup shape must rewrite onto the view: $paths")
        assert(!paths.exists(_.contains(base.toString)))
      }
      val got = qs.map(_.collect().map(r => r.toSeq.map(String.valueOf)).toSet)
      MatView.clear()
      val want = shapes(Storage.readVersion(spark, base))
        .map(_.collect().map(r => r.toSeq.map(String.valueOf)).toSet)
      got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
        assert(g == w, s"rollup shape $i diverged:\n got  $g\n want $w")
      }
      // grouping_id() resolves to the spark_grouping_id attr itself — a
      // grouping expression the rewrite preserves verbatim, so it rewrites
      // AND stays exact
      register()
      def gq() = Storage.readVersion(spark, base).rollup("k1")
        .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"))
      val gotG = gq()
      assert(scanPaths(gotG).exists(_.contains(view.toString)),
        "grouping_id rides the preserved gid slot")
      val g = gotG.collect().map(r => r.toSeq.map(String.valueOf)).toSet
      MatView.clear()
      val w = gq().collect().map(r => r.toSeq.map(String.valueOf)).toSet
      assert(g == w, s"grouping_id diverged:\n got  $g\n want $w")
    }
    Storage.deleteRecursively(root)
  }

  test("maintained registration follows the base: fresh rewrites, lag falls back, re-maintain resumes") {
    import graft.ops.{MatViews, MergeOps}
    val root = Files.createTempDirectory("mv_maint")
    val base = root.resolve("base")
    val view = root.resolve("view")
    def load(df: DataFrame) = MergeOps.prunedConditionalUpsert(base,
      df.withColumn("loaded_at", lit(null).cast("timestamp"))
        .withColumn("last_upd_at", lit(null).cast("timestamp")),
      pk = Seq("id"), tracked = Seq("grp", "x"),
      runTs = lit("2024-01-01 00:00:00").cast("timestamp"), nParts = 4,
      keepVersions = 4)
    import spark.implicits._
    def rows(n: Int) = (1 to n).map(i => (i.toLong, s"g${i % 3}", BigDecimal(i)))
      .toDF("id", "grp", "x")
      .select(col("id"), col("grp"), col("x").cast("decimal(38,6)").as("x"))
    val v0 = load(rows(60))
    def maintain(): Long = {
      val state = Storage.readPartitionedVersion(spark, base)
        .groupBy("grp")
        .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x"))
      MatViews.commitMaintained(state, view, Storage.currentVersion(base).get)
    }
    maintain()
    MatViews.registerRewrite(spark, "maint", base, view,
      keys = Seq("grp"), sums = Map("x" -> "sum_x"))
    withRule {
      def q() = Storage.readPartitionedVersion(spark, base)
        .groupBy("grp").agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      // fresh single-owner state: rewrites
      assert(scanPaths(q()).exists(_.contains(view.toString)), "fresh view must rewrite")
      // a pruned (partial) read must NOT rewrite to the full view
      val pruned = Storage.readPartitionedVersion(spark, base,
          onlyParts = Some(Storage.committedPartitions(base).take(2)))
        .groupBy("grp").agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(pruned).exists(_.contains(view.toString)),
        "pruned read must not rewrite")
      // base advances without maintenance: multi-owner AND stale — fallback
      load(rows(75))
      assert(!scanPaths(q()).exists(_.contains(view.toString)), "lagging view must not rewrite")
      assert(q().collect().map(_.getLong(1)).sum == 75)
      // compact to single-owner + re-maintain: rewrite resumes
      Storage.compact(spark, base)
      maintain()
      val q2 = q()
      assert(scanPaths(q2).exists(_.contains(view.toString)), "re-maintained view must rewrite")
      assert(q2.collect().map(_.getLong(1)).sum == 75)
    }
  }

  test("ratio-of-aggregates and measure arithmetic rewrite as expression trees") {
    val (base, view) = fixture()
    withRule {
      // SUM/COUNT composed in one output slot — the BI ratio shape that
      // previously failed slot validation and fell back to the base
      def shape(df: DataFrame) = df.groupBy("k1").agg(
        (sum("x").cast("double") / count(lit(1))).as("ratio"),
        (sum("x") * lit(2)).as("dbl"),
        (max("x").cast("double") - min("x").cast("double")).as("range"),
        (count(lit(1)) + lit(1)).as("cntp1"))
      val q = shape(Storage.readVersion(spark, base))
      val paths = scanPaths(q)
      assert(paths.exists(_.contains(view.toString)),
        s"ratio aggregate must rewrite onto the view: $paths")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got == want, s"ratio rewrite diverged:\n got  $got\n want $want")
      // a tree containing an UNSERVABLE leaf still falls back whole
      val (b2, v2) = (base, view)
      MatView.clear(); reRegister(b2, v2)
      val bad = Storage.readVersion(spark, b2).groupBy("k1")
        .agg((sum("x") / stddev("x")).as("r"))
      assert(!scanPaths(bad).exists(_.contains(v2.toString)),
        "a tree with an unservable aggregate leaf must fall back")
    }
  }

  test("COUNT(DISTINCT key) and approx_count_distinct(key) navigate exactly") {
    val (base, view) = fixture()
    withRule {
      // k2 is a view KEY: the view's rows carry exactly the distinct
      // (k1, k2) pairs, so both the exact and the HLL++ distinct counts
      // over k2 are bit-identical over the view
      // one distinct ARGUMENT SET per query: two different sets make the
      // main optimizer expand the aggregate (RewriteDistinctAggregates)
      // before this rule ever sees it — correctly falling back
      def shape(df: DataFrame) = df.groupBy("k1").agg(
        countDistinct("k2").as("dk"),
        approx_count_distinct("k2").as("adk"),
        // the distinct family over one key set: SUM/AVG(DISTINCT key)
        // are exact too (identical distinct value sets over the view)
        sum_distinct(col("k2")).as("sdk"),
        expr("avg(DISTINCT k2)").as("avgdk"),
        count(lit(1)).as("cnt"), sum("x").as("s"))
      val q = shape(Storage.readVersion(spark, base))
      val paths = scanPaths(q)
      assert(paths.exists(_.contains(view.toString)),
        s"key-distinct aggregate must rewrite onto the view: $paths")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got == want, s"key-distinct rewrite diverged:\n got  $got\n want $want")
      // GLOBAL distinct over a key works too (distinct pairs collapse)
      reRegister(base, view)
      val g = Storage.readVersion(spark, base)
        .agg(countDistinct("k2").as("dk"), count(lit(1)).as("cnt"))
      assert(scanPaths(g).exists(_.contains(view.toString)))
      val gGot = g.collect().toSeq
      MatView.clear()
      val gWant = Storage.readVersion(spark, base)
        .agg(countDistinct("k2").as("dk"), count(lit(1)).as("cnt")).collect().toSeq
      assert(gGot == gWant)
      // multi-column and expression distincts over keys navigate too
      reRegister(base, view)
      def multi(df: DataFrame) = df.groupBy("k1")
        .agg(countDistinct(col("k1"), col("k2")).as("dk2"))
      def exprD(df: DataFrame) = df.groupBy("k1")
        .agg(countDistinct(col("k2") % 3).as("dke"))
      val (m, x) = (multi(Storage.readVersion(spark, base)),
        exprD(Storage.readVersion(spark, base)))
      assert(scanPaths(m).exists(_.contains(view.toString)),
        "multi-key distinct must navigate")
      assert(scanPaths(x).exists(_.contains(view.toString)),
        "expression-over-key distinct must navigate")
      val (mGot, xGot) = (m.orderBy("k1").collect().toSeq,
        x.orderBy("k1").collect().toSeq)
      MatView.clear()
      assert(mGot == multi(Storage.readVersion(spark, base))
        .orderBy("k1").collect().toSeq)
      assert(xGot == exprD(Storage.readVersion(spark, base))
        .orderBy("k1").collect().toSeq)
    }
  }

  test("KMV estimate navigates exactly; COUNT(DISTINCT measure) only under the opt-in conf") {
    import graft.plans.KmvSketch
    import spark.implicits._
    val root = Files.createTempDirectory("mv_kmv")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // uid is a MEASURE (not a view key): distinct counts over it can only
    // come from the maintained sketch partial
    val rows = (1 to 300).map(i => (s"k${i % 3}", (i % 4).toLong, (i % 37).toLong))
      .toDF("k1", "k2", "uid")
    Storage.commitVersion(rows, base)
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1", "k2")
        .agg(count(lit(1)).as("count_rows"),
          KmvSketch.partialCol(col("uid"), 64).as("kmv_uid")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def register(): Unit = MatView.register(MatView.Def(
      name = "kmv_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      kmvs = Map("uid" -> "kmv_uid")))
    register()
    withRule {
      // the query's own sketch estimate navigates EXACTLY (k-min of the
      // union = trimmed union of k-mins), bit-identical values
      def est(df: DataFrame) = df.groupBy("k1")
        .agg(KmvSketch.distinctEstimate(col("uid"), 64).as("e"),
          count(lit(1)).as("cnt"))
      val q = est(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)),
        "sketch estimate must navigate onto the view")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = est(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got == want, s"navigated estimate diverged:\n got  $got\n want $want")
      // a k MISMATCH is a different sketch — falls back
      register()
      val wrongK = Storage.readVersion(spark, base).groupBy("k1")
        .agg(KmvSketch.distinctEstimate(col("uid"), 32).as("e"))
      assert(!scanPaths(wrongK).exists(_.contains(view.toString)),
        "k mismatch must fall back")
      // COUNT(DISTINCT measure): DEFAULT = exact answer from the base
      def cd(df: DataFrame) = df.groupBy("k1")
        .agg(countDistinct("uid").as("du"))
      assert(!scanPaths(cd(Storage.readVersion(spark, base)))
        .exists(_.contains(view.toString)),
        "COUNT(DISTINCT) must NOT use the sketch without the opt-in")
      // ...and under the explicit opt-in it serves the ROUNDED estimate
      spark.conf.set(graft.plans.MatViewRewrite.ApproxDistinctKey, "true")
      try {
        val qa = cd(Storage.readVersion(spark, base))
        assert(scanPaths(qa).exists(_.contains(view.toString)),
          "opted-in COUNT(DISTINCT) must navigate onto the sketch")
        val gotA = qa.orderBy("k1").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        MatView.clear()
        val wantA = est(Storage.readVersion(spark, base)).orderBy("k1").collect()
          .map(r => (r.getString(0), math.round(r.getDouble(1)))).toSeq
        assert(gotA == wantA,
          s"opt-in approx distinct diverged:\n got  $gotA\n want $wantA")
      } finally spark.conf.unset(graft.plans.MatViewRewrite.ApproxDistinctKey)
    }
    Storage.deleteRecursively(root)
  }

  test("FILTERED (partial) views: the query must carry the view's predicate; leftovers commute") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_where")
    val base = root.resolve("base")
    val view = root.resolve("view")
    val rows = (1 to 400).map(i => (s"k${i % 3}", (i % 7).toLong, i.toLong))
      .toDF("k1", "k2", "x")
    Storage.commitVersion(rows, base)
    // the view aggregates ONLY x > 100 rows — x is a measure, absent from
    // the view itself
    Storage.commitVersion(
      Storage.readVersion(spark, base).filter(col("x") > 100)
        .groupBy("k1", "k2")
        .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    // resolve the predicate the way registerRewrite does: one analysis +
    // optimization over the base's schema (cast folding and inferred
    // guards then line up with the matched query's optimized filters)
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        split(l) ++ split(r)
      case x => Seq(x)
    }
    val whereConjuncts = Storage.readVersion(spark, base).filter(col("x") > 100)
      .queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          split(f.condition)
      }.get
    def register(): Unit = MatView.register(MatView.Def(
      name = "part_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x"), where = () => whereConjuncts))
    register()
    withRule {
      // the exact predicate (plus an extra key conjunct) navigates; the
      // matched conjunct is consumed, the key conjunct re-applies
      def shape(df: DataFrame) = df.filter(col("x") > 100 && col("k2") <= 4)
        .groupBy("k1").agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)),
        "a query carrying the view's predicate must navigate")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got == want, s"filtered-view rewrite diverged:\n got  $got\n want $want")
      // the flipped-operand form is the SAME predicate (canonicalized)
      register()
      val flipped = Storage.readVersion(spark, base).filter(lit(100) < col("x"))
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(scanPaths(flipped).exists(_.contains(view.toString)),
        "operand order must not matter")
      // a query WITHOUT the predicate sees rows the partial view lacks —
      // it must fall back to the base
      val unfiltered = Storage.readVersion(spark, base)
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(unfiltered).exists(_.contains(view.toString)),
        "a query missing the view's predicate must fall back")
      // a TIGHTER predicate over a MEASURE falls back too: x > 150 does
      // imply the view's x > 100 (the implication matcher accepts it),
      // but the residual x > 150 cannot re-apply over group-level
      // partials — the key-only commute check rejects it
      val different = Storage.readVersion(spark, base).filter(col("x") > 150)
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(different).exists(_.contains(view.toString)),
        "a different predicate must fall back")
      // ROLLUP over the filtered view: the predicate consumption runs on
      // the Expand path too — the grouping-set mechanics ride the view
      def ru(df: DataFrame) = df.filter(col("x") > 100)
        .rollup("k1", "k2").agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      val qRu = ru(Storage.readVersion(spark, base))
      assert(scanPaths(qRu).exists(_.contains(view.toString)),
        "a rollup carrying the view's predicate must navigate")
      val gotRu = qRu.orderBy("k1", "k2").collect().toSeq
      MatView.clear()
      val wantRu = ru(Storage.readVersion(spark, base))
        .orderBy("k1", "k2").collect().toSeq
      assert(gotRu == wantRu,
        s"filtered rollup rewrite diverged:\n got  $gotRu\n want $wantRu")
    }
    Storage.deleteRecursively(root)
  }

  test("global COUNT over an empty view scan answers 0, not NULL") {
    val (base, view) = fixture()
    withRule {
      // key filter matching no groups: the view scan is EMPTY, and the
      // rewritten SUM(count partial) alone would yield NULL where COUNT
      // must yield 0 — the Coalesce guard closes exactly that
      def shape(df: DataFrame) = df.filter(col("k1") === "absent")
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"), min("x").as("mn"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)),
        "empty-matching global aggregate must still rewrite")
      val got = q.collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).collect().toSeq
      assert(got == want, s"global-over-empty diverged:\n got  $got\n want $want")
      assert(want.head.getLong(0) == 0L && want.head.isNullAt(1),
        "fixture must exercise COUNT=0 alongside NULL-valued SUM/MIN")
    }
  }

  test("non-deterministic filter never commutes with the group-by: fallback") {
    val (base, view) = fixture()
    withRule {
      // rand() < 0.5 references no column, so the key-only check passes
      // vacuously — only the determinism guard keeps row-level sampling
      // from silently becoming group-level sampling over the view
      // (rand() < 1.0 would be folded away by OptimizeRand before the
      // rewrite ever sees it)
      val q = Storage.readVersion(spark, base).filter(rand() < 0.5)
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      val paths = scanPaths(q)
      assert(paths.exists(_.contains(base.toString)) &&
        !paths.exists(_.contains(view.toString)),
        s"non-deterministic filter must fall back to the base: $paths")
    }
  }

  test("mis-registered view (key type or lossy partial type) falls back") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_mistyped")
    val base = root.resolve("base")
    val view = root.resolve("view")
    val rows = (1 to 100).map(i => (s"k${i % 3}", (i % 5).toLong, i.toLong))
      .toDF("k1", "k2", "y")
    Storage.commitVersion(rows, base)
    // k2 narrowed to int, sum_y widened to double — BOTH partial shapes a
    // sloppy registration could produce; each must fail toward the base
    val v = Storage.readVersion(spark, base).groupBy("k1", "k2")
      .agg(count(lit(1)).as("count_rows"), sum("y").as("sum_y"))
      .select(col("k1"), col("k2").cast("int").as("k2"),
        col("count_rows"), col("sum_y").cast("double").as("sum_y"))
    Storage.commitVersion(v, view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    MatView.register(MatView.Def(
      name = "bad_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("y" -> "sum_y")))
    withRule {
      // grouping on the mis-typed key: rebinding k2's exprId to an INT
      // view attr would be an invalid plan — the type guard must refuse
      val q1 = Storage.readVersion(spark, base).groupBy("k2")
        .agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(q1).exists(_.contains(view.toString)),
        "mis-typed grouping key must fall back")
      // SUM(y): base answers LONG, the view partial re-aggregates to
      // DOUBLE — double→long is not an upcast, so no rewrite (the old
      // any-numeric-cast guard would have silently truncated)
      val q2 = Storage.readVersion(spark, base).groupBy("k1")
        .agg(sum("y").as("s"))
      assert(!scanPaths(q2).exists(_.contains(view.toString)),
        "lossy partial type must fall back")
      assert(q2.orderBy("k1").collect().map(_.getLong(1)).toSeq ==
        Storage.readVersion(spark, base).groupBy("k1").agg(sum("y"))
          .orderBy("k1").collect().map(_.getLong(1)).toSeq)
    }
    Storage.deleteRecursively(root)
  }

  test("downstream operators over the rewritten aggregate keep working") {
    val (base, view) = fixture()
    withRule {
      // order-by + projection + a second filter above the aggregate all
      // reference the ORIGINAL output attrs — exprIds must be preserved
      val q = Storage.readVersion(spark, base).groupBy("k1", "k2")
        .agg(sum("x").as("s"))
        .filter(col("s") > 0)
        .select(concat(col("k1"), lit("#"), col("k2")).as("key"), col("s"))
        .orderBy(desc("s"))
      assert(scanPaths(q).exists(_.contains(view.toString)))
      assert(q.count() == 21) // 3 k1 × 7 k2 groups, all positive sums
    }
  }

  test("implication navigation: a strictly-tighter KEY range rides the view as a residual") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_imply")
    val base = root.resolve("base")
    val view = root.resolve("view")
    val rows = (1 to 400).map(i => (s"k${i % 3}", (i % 7).toLong, i.toLong))
      .toDF("k1", "k2", "x")
    Storage.commitVersion(rows, base)
    // the view slices on a KEY column (k2 > 1) — tighter query ranges over
    // k2 can then re-apply over the view's rows exactly
    Storage.commitVersion(
      Storage.readVersion(spark, base).filter(col("k2") > 1)
        .groupBy("k1", "k2")
        .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        split(l) ++ split(r)
      case x => Seq(x)
    }
    val whereConjuncts = Storage.readVersion(spark, base).filter(col("k2") > 1)
      .queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          split(f.condition)
      }.get
    def register(): Unit = MatView.register(MatView.Def(
      name = "imply_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x"), where = () => whereConjuncts))
    register()
    withRule {
      // k2 >= 3 implies the view's k2 > 1; the residual is key-only, so it
      // re-applies over the view and the answer is exact
      def tight(df: DataFrame) = df.filter(col("k2") >= 3)
        .groupBy("k1").agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      val q = tight(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)),
        "a strictly-tighter key range must navigate with a residual")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = tight(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got == want, s"implication rewrite diverged:\n got  $got\n want $want")
      register()
      // an equality pin inside the view's range implies it too
      val eq = Storage.readVersion(spark, base).filter(col("k2") === 5)
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(scanPaths(eq).exists(_.contains(view.toString)),
        "an equality inside the view's range must navigate")
      // an IN-list entirely inside the view's range implies it (and the
      // IN residual is key-only, so it re-applies over the view exactly)
      def inShape(df: DataFrame) = df.filter(col("k2").isin(3L, 5L))
        .groupBy("k1").agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      val qIn = inShape(Storage.readVersion(spark, base))
      assert(scanPaths(qIn).exists(_.contains(view.toString)),
        "an IN-list inside the view's range must navigate")
      val gotIn = qIn.orderBy("k1").collect().toSeq
      MatView.clear()
      val wantIn = inShape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(gotIn == wantIn, s"IN-list implication diverged:\n got  $gotIn\n want $wantIn")
      register()
      // an IN-list STRADDLING the boundary (1 is outside k2 > 1) falls back
      val qInBad = Storage.readVersion(spark, base).filter(col("k2").isin(1L, 5L))
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(qInBad).exists(_.contains(view.toString)),
        "an IN-list straddling the view's boundary must fall back")
      // a two-sided range: the lower bound implies the view's, the upper
      // bound is a plain extra key conjunct — both re-apply as residuals
      val qBand = Storage.readVersion(spark, base)
        .filter(col("k2") >= 3 && col("k2") <= 5)
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(scanPaths(qBand).exists(_.contains(view.toString)),
        "a two-sided key range must navigate")
      // a LOOSER range (k2 > 0 does not imply k2 > 1) must fall back —
      // the view lacks the k2 = 1 rows the query needs
      val loose = Storage.readVersion(spark, base).filter(col("k2") > 0)
        .groupBy("k1").agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(loose).exists(_.contains(view.toString)),
        "a looser range must fall back to the base")
    }
    Storage.deleteRecursively(root)
  }

  test("OR-of-equalities, IN-subset, and LIKE-prefix implication navigate filtered views; looser shapes fall back") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_impl2")
    val base = root.resolve("base")
    val rows = (1 to 400).map { i =>
      val url = if (i % 3 == 0) s"en.wiki/p$i" else if (i % 3 == 1) s"en.news/p$i"
        else s"de.wiki/p$i"
      (s"k${i % 3}", (i % 11).toLong, url, i.toLong)
    }.toDF("k1", "k2", "url", "x")
    Storage.commitVersion(rows, base)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def whereConjunctsOf(c: org.apache.spark.sql.Column)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
      def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          split(l) ++ split(r)
        case x => Seq(x)
      }
      Storage.readVersion(spark, base).filter(c)
        .queryExecution.optimizedPlan.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            split(f.condition)
        }.get
    }
    // three partial views: a LIKE-prefix slice, a string lower-bound
    // range, and an IN-list slice — all keyed (k1, k2, url)
    def mkView(name: String, c: org.apache.spark.sql.Column): java.nio.file.Path = {
      val v = root.resolve(name)
      Storage.commitVersion(
        Storage.readVersion(spark, base).filter(c).groupBy("k1", "k2", "url")
          .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x")), v)
      val conj = whereConjunctsOf(c)
      MatView.register(MatView.Def(
        name = name, baseRoots = () => Set(MatView.root(vdir)),
        view = () => Storage.readVersion(spark, v),
        keys = Seq("k1", "k2", "url"), countCol = Some("count_rows"),
        sums = Map("x" -> "sum_x"), where = () => conj))
      v
    }
    val prefixView = mkView("v_prefix", col("url").like("en.%"))
    withRule {
      def agg(df: DataFrame) = df.groupBy("k1")
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      def navigated(q: DataFrame, v: java.nio.file.Path): Boolean =
        scanPaths(q).exists(_.contains(v.toString))
      // a LONGER prefix implies the view's slice; the residual re-applies
      // over the view's url key
      def qLong() = agg(Storage.readVersion(spark, base)
        .filter(col("url").like("en.wiki%")))
      assert(navigated(qLong(), prefixView),
        "a tighter LIKE prefix must navigate onto the prefix-sliced view")
      val got = qLong().orderBy("k1").collect().toSeq
      MatView.clear()
      val want = qLong().orderBy("k1").collect().toSeq
      assert(got == want, s"prefix navigation diverged:\n got  $got\n want $want")
      mkView("v_prefix", col("url").like("en.%"))
      // an equality carrying the prefix implies it too
      assert(navigated(agg(Storage.readVersion(spark, base)
        .filter(col("url") === "en.wiki/p3")), prefixView),
        "an equality inside the prefix must navigate")
      // a SHORTER (looser) prefix must fall back — the view lacks rows
      assert(!navigated(agg(Storage.readVersion(spark, base)
        .filter(col("url").like("en%"))), prefixView),
        "a looser LIKE prefix must fall back")
      MatView.clear()
      // a LIKE prefix against a string RANGE slice: [p, nextPrefix(p))
      val rangeView = mkView("v_range", col("url") >= "en." && col("url") < "en/")
      def qPref() = agg(Storage.readVersion(spark, base)
        .filter(col("url").like("en.w%")))
      assert(navigated(qPref(), rangeView),
        "a LIKE prefix inside the string range must navigate")
      val gotR = qPref().orderBy("k1").collect().toSeq
      MatView.clear()
      val wantR = qPref().orderBy("k1").collect().toSeq
      assert(gotR == wantR, s"prefix-vs-range diverged:\n got  $gotR\n want $wantR")
      // OR-of-equalities and IN-subset against an IN-sliced view
      val inView = mkView("v_in", col("k2").isin(2L, 3L, 5L, 7L))
      def qOr() = agg(Storage.readVersion(spark, base)
        .filter(col("k2") === 3L || col("k2") === 5L))
      assert(navigated(qOr(), inView),
        "an OR-of-equalities subset must navigate onto the IN-sliced view")
      val gotO = qOr().orderBy("k1").collect().toSeq
      MatView.clear()
      val wantO = qOr().orderBy("k1").collect().toSeq
      assert(gotO == wantO, s"or-of-eq navigation diverged:\n got  $gotO\n want $wantO")
      val inView2 = mkView("v_in", col("k2").isin(2L, 3L, 5L, 7L))
      assert(navigated(agg(Storage.readVersion(spark, base)
        .filter(col("k2").isin(5L, 7L))), inView2),
        "an IN-list subset must navigate")
      // a member OUTSIDE the slice (4 ∉ {2,3,5,7}) must fall back
      assert(!navigated(agg(Storage.readVersion(spark, base)
        .filter(col("k2") === 3L || col("k2") === 4L)), inView2),
        "an OR with a member outside the slice must fall back")
      MatView.clear()
      // OR-of-equalities against a plain numeric RANGE slice
      val numView = mkView("v_num", col("k2") > 1L)
      assert(navigated(agg(Storage.readVersion(spark, base)
        .filter(col("k2") === 3L || col("k2") === 5L)), numView),
        "an OR-of-equalities inside the range must navigate")
      assert(!navigated(agg(Storage.readVersion(spark, base)
        .filter(col("k2") === 1L || col("k2") === 5L)), numView),
        "an OR straddling the range boundary must fall back")
    }
    Storage.deleteRecursively(root)
  }

  test("GROUP BY an expression of keys navigates (month rollup over a daily view); non-key exprs fall back") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_gexpr")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // daily-grained base: (day, k2, x)
    val rows = (1 to 400).map { i =>
      (java.sql.Date.valueOf(s"2024-0${i % 3 + 1}-${i % 27 + 1}"),
        (i % 7).toLong, i.toLong)
    }.toDF("day", "k2", "x")
    Storage.commitVersion(rows, base)
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("day", "k2")
        .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x"),
          max("x").as("max_x")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def register(): Unit = MatView.register(MatView.Def(
      name = "daily_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("day", "k2"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x"), maxs = Map("x" -> "max_x")))
    register()
    withRule {
      // the month-rollup-over-a-daily-view shape: trunc(day) and a CASE
      // over k2 both group exactly (constant within each daily group)
      def shape(df: DataFrame) = df.groupBy(
          trunc(col("day"), "mon").as("month"),
          when(col("k2") < 3, lit("lo")).otherwise(lit("hi")).as("band"))
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"), max("x").as("mx"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)) &&
        !scanPaths(q).exists(_.contains(base.toString)),
        "grouping by expressions of keys must navigate")
      val got = q.orderBy("month", "band").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base))
        .orderBy("month", "band").collect().toSeq
      assert(got == want, s"expression grouping diverged:\n got  $got\n want $want")
      register()
      // a key filter composes with expression grouping
      val fq = Storage.readVersion(spark, base).filter(col("k2") > 1)
        .groupBy(trunc(col("day"), "mon").as("month"))
        .agg(sum("x").as("s"))
      assert(scanPaths(fq).exists(_.contains(view.toString)),
        "key filter + expression grouping must navigate")
      // an expression over the MEASURE can't group the view: fall back
      val bad = Storage.readVersion(spark, base)
        .groupBy((col("x") % 10).as("xm")).agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(bad).exists(_.contains(view.toString)),
        "grouping by a measure expression must fall back")
      // a NON-DETERMINISTIC grouping expression falls back
      val rnd = Storage.readVersion(spark, base)
        .groupBy((rand() * 0).cast("long").as("r")).agg(count(lit(1)).as("cnt"))
      assert(!scanPaths(rnd).exists(_.contains(view.toString)),
        "non-deterministic grouping must fall back")
    }
    Storage.deleteRecursively(root)
  }

  test("FILTER (WHERE key-pred) aggregates navigate exactly; measure filters fall back") {
    val (base, view) = fixture()
    withRule {
      // a key-only FILTER clause partitions whole groups: every served
      // family stays exact with the remapped filter attached
      def shape(df: DataFrame) = df.groupBy("k1").agg(
        count(lit(1)).as("cnt"),
        expr("count(*) FILTER (WHERE k2 > 3)").as("cnt_hi"),
        expr("sum(x) FILTER (WHERE k2 <= 2)").as("s_lo"),
        expr("max(x) FILTER (WHERE k2 = 6)").as("mx6"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)),
        "key-filtered aggregates must navigate")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got == want, s"filtered-aggregate rewrite diverged:\n got  $got\n want $want")
      reRegister(base, view)
      // a filter NO row satisfies: COUNT answers 0 (not NULL), global too
      val g = Storage.readVersion(spark, base)
        .agg(expr("count(*) FILTER (WHERE k2 > 100)").as("none"))
      assert(scanPaths(g).exists(_.contains(view.toString)))
      assert(g.collect().head.getLong(0) == 0L,
        "an unsatisfied filter must count 0, not NULL")
      reRegister(base, view)
      // DISTINCT + FILTER is install-path-dependent: on the per-query
      // experimental path the optimizer's RewriteDistinctAggregates has
      // already lowered the pair to its Expand form (sound fallback),
      // while the session-wide GraftExtensions injection runs BEFORE that
      // lowering and serves it exactly from the key-exact distinct family
      // (the shared suite session carries the injected rules once
      // RewriteRuleSpec has run). Don't pin the plan — pin the ANSWER.
      val dq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(expr("count(DISTINCT k2) FILTER (WHERE k2 > 3)").as("dk_hi"))
      val gotD = dq.orderBy("k1").collect().toSeq
      MatView.clear()
      val wantD = Storage.readVersion(spark, base).groupBy("k1")
        .agg(expr("count(DISTINCT k2) FILTER (WHERE k2 > 3)").as("dk_hi"))
        .orderBy("k1").collect().toSeq
      assert(gotD == wantD, s"filtered distinct diverged:\n got  $gotD\n want $wantD")
      reRegister(base, view)
      // a filter over the MEASURE cannot re-slice partials: fall back
      val bad = Storage.readVersion(spark, base).groupBy("k1")
        .agg(expr("count(*) FILTER (WHERE x > 100)").as("c"))
      assert(!scanPaths(bad).exists(_.contains(view.toString)),
        "a measure filter must fall back")
    }
    Storage.deleteRecursively(base.getParent)
  }

  test("top-k per group (heavy-hitters panel) serves from the aux-distinct view by composition") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val root = Files.createTempDirectory("mv_topk")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // event log: (k1 group, item) with skewed item frequencies
    val rows = (1 to 600).map { i =>
      (s"k${i % 3}", s"item${(i * i) % 17}")
    }.toDF("k1", "item")
    Storage.commitVersion(rows, base)
    // the aux view keyed (k1, item): count_rows IS the item frequency —
    // no sketch needed for an EXACT top-k; the view holds |distinct
    // (group, item)| rows, a sliver of the log at 100 TB
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1", "item")
        .agg(count(lit(1)).as("count_rows")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    MatView.register(MatView.Def(
      name = "topk_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "item"), countCol = Some("count_rows")))
    withRule {
      // the classic dashboard shape: rank per-group item counts, keep 3.
      // The INNER aggregate navigates; the Window ranks view-sized rows.
      def shape(df: DataFrame) = df.groupBy("k1", "item")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("k1").orderBy(col("cnt").desc, col("item"))))
        .filter(col("rn") <= 3)
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)) &&
        !scanPaths(q).exists(_.contains(base.toString)),
        "the top-k panel's aggregate must navigate onto the aux view")
      val got = q.orderBy("k1", "rn").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base))
        .orderBy("k1", "rn").collect().toSeq
      assert(got == want, s"top-k composition diverged:\n got  $got\n want $want")
    }
    Storage.deleteRecursively(root)
  }

  test("explainNavigation names the serving view and each fallback's first failing guard") {
    import graft.ops.MatViews
    import spark.implicits._
    val root = Files.createTempDirectory("mv_explain")
    val base = root.resolve("base")
    val view = root.resolve("view")
    val rows = (1 to 100).map(i => (s"k${i % 3}", (i % 7).toLong, i.toLong))
      .toDF("k1", "k2", "x")
    Storage.commitVersion(rows, base)
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1")
        .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x")), view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    var freshFlag = true
    MatView.register(MatView.Def(
      name = "ex_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x"), fresh = () => freshFlag))
    def q() = Storage.readVersion(spark, base).groupBy("k1")
      .agg(count(lit(1)).as("cnt"), sum("x").as("s"))
    def reasonFor(df: DataFrame): String =
      MatViews.explainNavigation(df).head.reasons.collectFirst {
        case ("ex_t", r) => r }.getOrElse("<no ex_t reason>")
    try {
      // rule NOT installed: the probe fully matches and the report tells
      // the user the rule is missing — the most common real-world cause
      val r0 = MatViews.explainNavigation(q())
      assert(r0.nonEmpty, "explain must report the aggregate")
      assert(r0.head.servedBy.isEmpty, s"no rule is installed, yet served: $r0")
      assert(reasonFor(q()).contains("would navigate"),
        s"expected the rule-not-installed tell: $r0")
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MatViewRewrite
      try {
        // navigated: the report names the serving view
        assert(MatViews.explainNavigation(q()).head.servedBy.contains("ex_t"))
        // unservable shape (grouping by a non-key)
        assert(reasonFor(Storage.readVersion(spark, base).groupBy("k2")
          .agg(count(lit(1)).as("cnt"))).contains("shape"))
        // stale view
        freshFlag = false
        assert(reasonFor(q()).contains("stale"))
        freshFlag = true
        // a different table: root mismatch
        val other = root.resolve("other")
        Storage.commitVersion(rows, other)
        assert(reasonFor(Storage.readVersion(spark, other).groupBy("k1")
          .agg(count(lit(1)).as("cnt"))).contains("scan-root mismatch"))
        // the rendered form carries the same content
        assert(MatViews.explainNavigationString(q()).contains("served by view 'ex_t'"))
      } finally spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq MatViewRewrite)
    } finally MatView.clear()
    Storage.deleteRecursively(root)
  }

  test("median/percentile navigate a distribution view exactly; weighted, measure, and rollup forms fall back") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_pct")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // x repeats within groups (the frequency column matters); y is a
    // measure the view does NOT key
    val rows = (1 to 101).map(i =>
      (s"k${i % 3}", (i % 13).toDouble * 1.5, i.toDouble)).toDF("k1", "x", "y")
    Storage.commitVersion(rows, base)
    // the DISTRIBUTION view: keyed (k1, x), count_rows = per-value multiplicity
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1", "x")
        .agg(count(lit(1)).as("count_rows")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def register(): Unit = MatView.register(MatView.Def(
      name = "dist_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "x"), countCol = Some("count_rows")))
    register()
    withRule {
      // median / percentile / a percentile ARRAY all rewrite to
      // Percentile(x, p, count_rows) over the view — bit-identical
      def shape(df: DataFrame) = df.groupBy("k1").agg(
        median(col("x")).as("med"),
        percentile(col("x"), lit(0.75)).as("p75"),
        percentile(col("x"), array(lit(0.25), lit(0.9))).as("ps"),
        count(lit(1)).as("cnt"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)) &&
        !scanPaths(q).exists(_.contains(base.toString)),
        "median/percentile over the distribution view's key must navigate")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got.toString == want.toString,
        s"navigated percentile diverged:\n got  $got\n want $want")
      register()
      // DISTINCT percentile: the view's rows ARE the distinct (k1, x)
      // pairs, so the same distinct aggregate re-runs over the view
      def dshape(df: DataFrame) = df.groupBy("k1")
        .agg(expr("percentile(DISTINCT x, 0.5)").as("dm"))
      val dq = dshape(Storage.readVersion(spark, base))
      assert(scanPaths(dq).exists(_.contains(view.toString)),
        "DISTINCT percentile over a key must navigate")
      val gotD = dq.orderBy("k1").collect().toSeq
      MatView.clear()
      val wantD = dshape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(gotD.toString == wantD.toString,
        s"distinct percentile diverged:\n got  $gotD\n want $wantD")
      register()
      // a query already carrying a real FREQUENCY (weight 2 per row) has
      // per-row weights the view cannot reproduce — falls back
      val wq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(expr("percentile(x, 0.5, 2)").as("m"))
      assert(!scanPaths(wq).exists(_.contains(view.toString)),
        "a weighted percentile must fall back")
      // a percentile over a MEASURE (y is not a view key) falls back —
      // the view does not carry y's distribution
      val mq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(expr("percentile(y, 0.5)").as("m"))
      assert(!scanPaths(mq).exists(_.contains(view.toString)),
        "a percentile over a non-key measure must fall back")
      // under ROLLUP the key columns ride Expand as nulled placeholders —
      // a percentile over them is a different relation: falls back
      val rq = Storage.readVersion(spark, base).rollup("k1")
        .agg(expr("percentile(x, 0.5)").as("m"))
      assert(!scanPaths(rq).exists(_.contains(view.toString)),
        "a rollup percentile must fall back")
    }
    Storage.deleteRecursively(root)
  }

  test("explainNavigation diagnoses the ROLLUP/Expand path: served panels name their view, measure slots name the guard") {
    import graft.ops.MatViews
    import spark.implicits._
    val root = Files.createTempDirectory("mv_explain_ru")
    val base = root.resolve("base")
    val view = root.resolve("view")
    val rows = (1 to 120).map(i => (s"k${i % 3}", (i % 5).toLong, i.toLong, i * 2.0))
      .toDF("k1", "k2", "x", "y")
    Storage.commitVersion(rows, base)
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1", "k2")
        .agg(count(lit(1)).as("count_rows"), sum("x").as("sum_x")), view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    MatView.register(MatView.Def(
      name = "ru_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1", "k2"), countCol = Some("count_rows"),
      sums = Map("x" -> "sum_x")))
    try {
      def served() = Storage.readVersion(spark, base).rollup("k1", "k2")
        .agg(count(lit(1)).as("cnt"), sum("x").as("s"))
      // y has no sum partial: the rollup aggregate cannot be served —
      // the report must carry ru_t's first failing guard, not silence
      def unservable() = Storage.readVersion(spark, base).rollup("k1", "k2")
        .agg(sum("y").as("s"))
      withRule {
        val r1 = MatViews.explainNavigation(served())
        assert(r1.nonEmpty, "the rollup Aggregate must be reported")
        assert(r1.head.servedBy.contains("ru_t"),
          s"a navigated rollup must report its serving view: $r1")
        val r2 = MatViews.explainNavigation(unservable())
        assert(r2.nonEmpty && r2.head.servedBy.isEmpty,
          s"an unservable rollup must not claim a server: $r2")
        val reason = r2.head.reasons.collectFirst { case ("ru_t", r) => r }
        assert(reason.exists(_.contains("shape")),
          s"the measure-slot rollup must report the failing guard: $r2")
      }
    } finally MatView.clear()
    Storage.deleteRecursively(root)
  }

  test("variance/stddev family navigates via the Σx² partial — flat, FILTER, rollup; fallbacks guard") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_var")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // d: integer-valued double with nulls (exact partial sums in IEEE
    // doubles); i: an int measure (the analyzer casts the variance child
    // to double — the partial triple must still match through that cast);
    // m: decimal — the documented decimal fallback; lone: exactly one
    // non-null value in group t9 (the n = 1 divide-by-zero edge)
    val rows = (1 to 400).map { i =>
      (if (i == 400) "t9" else s"t${i % 3}",
        if (i % 5 == 0) None else Some(((i * 7) % 23).toDouble),
        i % 11, BigDecimal(i) / 100)
    }.toDF("k1", "d", "i", "m")
      .select(col("k1"), col("d"), col("i"),
        col("m").cast("decimal(38,6)").as("m"))
    Storage.commitVersion(rows, base)
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1")
        .agg(count(lit(1)).as("count_rows"),
          sum("d").as("sum_d"), count(col("d")).as("cnt_d"),
          sum(col("d") * col("d")).as("ssq_d"),
          sum("i").as("sum_i"), count(col("i")).as("cnt_i"),
          sum(col("i").cast("double") * col("i").cast("double")).as("ssq_i"),
          sum("m").as("sum_m"), count(col("m")).as("cnt_m"),
          sum(col("m").cast("double") * col("m").cast("double")).as("ssq_m")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def register(): Unit = MatView.register(MatView.Def(
      name = "var_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1"), countCol = Some("count_rows"),
      sums = Map("d" -> "sum_d", "i" -> "sum_i", "m" -> "sum_m"),
      counts = Map("d" -> "cnt_d", "i" -> "cnt_i", "m" -> "cnt_m"),
      sumsqs = Map("d" -> "ssq_d", "i" -> "ssq_i", "m" -> "ssq_m")))
    register()
    // double-domain envelope: the Σx² re-expression and Welford differ in
    // the last ULPs (both are order-sensitive float algorithms); integer-
    // valued inputs keep the partials exact, so agreement is ~1e-12
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) =>
        (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * (1 + math.abs(y))
      case (x, y) => x == y
    }
    def sameRows(got: Seq[org.apache.spark.sql.Row],
        want: Seq[org.apache.spark.sql.Row], what: String): Unit = {
      assert(got.size == want.size, s"$what: row counts differ")
      got.zip(want).foreach { case (g, w) =>
        assert((0 until g.size).forall(j => close(g.get(j), w.get(j))),
          s"$what diverged:\n got  $g\n want $w") }
    }
    withRule {
      def shape(df: DataFrame) = df.groupBy("k1").agg(
        var_samp(col("d")).as("vs"), var_pop(col("d")).as("vp"),
        stddev_samp(col("d")).as("ss"), stddev_pop(col("d")).as("sp"),
        var_samp(col("i")).as("vi"),
        // key-only FILTER rides the family like any served aggregate
        expr("var_samp(d) FILTER (WHERE k1 <> 't9')").as("vf"),
        count(lit(1)).as("cnt"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)) &&
        !scanPaths(q).exists(_.contains(base.toString)),
        "the variance family must navigate onto the Σx² partials")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      sameRows(got, want, "variance family")
      // t9's lone non-null d: n = 1 → the divide-by-zero edge must match
      // whatever this session's conf resolved (NULL by default)
      val t9got = got.find(_.getString(0) == "t9").get
      val t9want = want.find(_.getString(0) == "t9").get
      assert(close(t9got.get(1), t9want.get(1)) && close(t9got.get(3), t9want.get(3)),
        s"n=1 sampled-variance edge diverged: $t9got vs $t9want")
      register()
      // ROLLUP: the partial triple rides Expand like any partial column
      def rshape(df: DataFrame) = df.rollup("k1").agg(
        var_samp(col("d")).as("vs"), stddev_pop(col("d")).as("sp"),
        count(lit(1)).as("cnt"))
      val rq = rshape(Storage.readVersion(spark, base))
      assert(scanPaths(rq).exists(_.contains(view.toString)) &&
        !scanPaths(rq).exists(_.contains(base.toString)),
        "rollup variance must navigate")
      val rgot = rq.orderBy(col("k1").asc_nulls_first).collect().toSeq
      MatView.clear()
      val rwant = rshape(Storage.readVersion(spark, base))
        .orderBy(col("k1").asc_nulls_first).collect().toSeq
      sameRows(rgot, rwant, "rollup variance")
      register()
      // decimal measure: its Σx partial is decimal — documented fallback
      // (same stance as decimal AVG)
      val dq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(var_samp(col("m")).as("vm"))
      assert(!scanPaths(dq).exists(_.contains(view.toString)),
        "a decimal-measure variance must fall back")
      // DISTINCT variance is a different relation than the partials hold
      val xq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(expr("var_samp(DISTINCT d)").as("vd"))
      assert(!scanPaths(xq).exists(_.contains(view.toString)),
        "DISTINCT variance must fall back")
      // a registration WITHOUT the Σx² partial cannot serve the family
      MatView.clear()
      MatView.register(MatView.Def(
        name = "var_nosq", baseRoots = () => Set(MatView.root(vdir)),
        view = () => Storage.readVersion(spark, view),
        keys = Seq("k1"), countCol = Some("count_rows"),
        sums = Map("d" -> "sum_d"), counts = Map("d" -> "cnt_d")))
      val nq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(var_samp(col("d")).as("vs"))
      assert(!scanPaths(nq).exists(_.contains(view.toString)),
        "without a sumsq partial the variance must fall back")
    }
    Storage.deleteRecursively(root)
  }

  test("skewness/kurtosis navigate via Σx³/Σx⁴ power sums; the m2=0 and missing-partial guards hold") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_skew")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // d: asymmetric integer-valued double (squares of a rotating residue
    // — genuinely skewed, so a wrong m3 shows) with nulls; group tc is
    // CONSTANT-valued (m2 = 0: the family's divide-by-zero edge must
    // match whatever this session's conf resolved, through the rewrite)
    val rows = (1 to 360).map { i =>
      if (i > 350) ("tc", Some(7.0), i % 9)
      else (s"t${i % 3}",
        if (i % 5 == 0) None else Some((((i * 7) % 23) * ((i * 7) % 23)).toDouble),
        i % 9)
    }.toDF("k1", "d", "i")
    Storage.commitVersion(rows, base)
    def p(c: org.apache.spark.sql.Column, k: Int) =
      Seq.fill(k)(c.cast("double")).reduce(_ * _)
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1")
        .agg(count(lit(1)).as("count_rows"),
          sum("d").as("sum_d"), count(col("d")).as("cnt_d"),
          sum(p(col("d"), 2)).as("ssq_d"), sum(p(col("d"), 3)).as("scu_d"),
          sum(p(col("d"), 4)).as("squ_d"),
          sum("i").as("sum_i"), count(col("i")).as("cnt_i"),
          sum(p(col("i"), 2)).as("ssq_i"), sum(p(col("i"), 3)).as("scu_i")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def register(): Unit = MatView.register(MatView.Def(
      name = "skew_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1"), countCol = Some("count_rows"),
      sums = Map("d" -> "sum_d", "i" -> "sum_i"),
      counts = Map("d" -> "cnt_d", "i" -> "cnt_i"),
      sumsqs = Map("d" -> "ssq_d", "i" -> "ssq_i"),
      sumcubes = Map("d" -> "scu_d", "i" -> "scu_i"),
      sumquads = Map("d" -> "squ_d")))
    register()
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) =>
        (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * (1 + math.abs(y))
      case (x, y) => x == y
    }
    withRule {
      def shape(df: DataFrame) = df.groupBy("k1").agg(
        skewness(col("d")).as("sk"), kurtosis(col("d")).as("ku"),
        skewness(col("i")).as("ski"), // int measure: through the cast
        count(lit(1)).as("cnt"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)) &&
        !scanPaths(q).exists(_.contains(base.toString)),
        "skewness/kurtosis must navigate onto the power-sum partials")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got.size == want.size && got.zip(want).forall { case (g, w) =>
        (0 until g.size).forall(j => close(g.get(j), w.get(j))) },
        s"moments diverged:\n got  $got\n want $want")
      register()
      // ROLLUP rides the power sums like any partial
      val rq = Storage.readVersion(spark, base).rollup("k1")
        .agg(skewness(col("d")).as("sk"), kurtosis(col("d")).as("ku"))
      assert(scanPaths(rq).exists(_.contains(view.toString)),
        "rollup skewness/kurtosis must navigate")
      val rgot = rq.orderBy(col("k1").asc_nulls_first).collect().toSeq
      MatView.clear()
      val rwant = Storage.readVersion(spark, base).rollup("k1")
        .agg(skewness(col("d")).as("sk"), kurtosis(col("d")).as("ku"))
        .orderBy(col("k1").asc_nulls_first).collect().toSeq
      assert(rgot.zip(rwant).forall { case (g, w) =>
        (0 until g.size).forall(j => close(g.get(j), w.get(j))) },
        s"rollup moments diverged:\n got  $rgot\n want $rwant")
      register()
      // kurtosis over i: the view has no Σi⁴ partial — falls back
      val kq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(kurtosis(col("i")).as("ki"))
      assert(!scanPaths(kq).exists(_.contains(view.toString)),
        "kurtosis without a Σx⁴ partial must fall back")
      register()
      // the EMPTY arm: a never-true key FILTER re-aggregates NOTHING —
      // n comes back NULL, and the clamped M2 (greatest(NULL, 0) = 0)
      // must not drop skew/kurt into the divide-by-zero branch: base
      // answers NULL, so must the navigated plan
      def emptyShape(df: DataFrame) = df.agg(
        expr("skewness(d) FILTER (WHERE k1 = 'nope')").as("sk"),
        expr("kurtosis(d) FILTER (WHERE k1 = 'nope')").as("ku"),
        expr("var_samp(d) FILTER (WHERE k1 = 'nope')").as("vs"))
      val eq = emptyShape(Storage.readVersion(spark, base))
      assert(scanPaths(eq).exists(_.contains(view.toString)),
        "the empty-filter panel must still navigate")
      val egot = eq.collect().head
      MatView.clear()
      val ewant = emptyShape(Storage.readVersion(spark, base)).collect().head
      assert((0 until 3).forall(j =>
        egot.isNullAt(j) == ewant.isNullAt(j) && egot.isNullAt(j)),
        s"empty-arm moments must be NULL like the base: got $egot want $ewant")
      register()
      // LEGACY statistical conf: the divide-by-zero result flips to NaN —
      // the rewrite reads nullOnDivideByZero from the MATCHED function
      // instance, so a constant-valued group (m2 = 0, the tc rows) must
      // answer NaN through the navigated plan exactly as the base does
      spark.conf.set("spark.sql.legacy.statisticalAggregate", "true")
      try {
        def tcShape(df: DataFrame) = df.filter(col("k1") === "tc")
          .groupBy("k1").agg(skewness(col("d")).as("sk"),
            var_samp(col("d")).as("vs"))
        val lq = tcShape(Storage.readVersion(spark, base))
        assert(scanPaths(lq).exists(_.contains(view.toString)),
          "the legacy-conf panel must still navigate")
        val lgot = lq.collect().head
        MatView.clear()
        val lwant = tcShape(Storage.readVersion(spark, base)).collect().head
        assert(lgot.getDouble(1).isNaN && lwant.getDouble(1).isNaN,
          s"legacy m2=0 skewness must be NaN on BOTH plans: $lgot vs $lwant")
      } finally
        spark.conf.unset("spark.sql.legacy.statisticalAggregate")
    }
    Storage.deleteRecursively(root)
  }

  test("corr/covar navigate via pairwise-complete cross sums; ANSI zero-denominator faithfulness holds") {
    import spark.implicits._
    val root = Files.createTempDirectory("mv_cov")
    val base = root.resolve("base")
    val view = root.resolve("view")
    // x and y: integer-valued doubles with DIFFERENT null patterns, so
    // pairwise-complete n ≠ either column's count; y tracks x with noise
    // (a genuine partial correlation); z has no registered pair; group
    // tc holds x CONSTANT — the Spark-4 ANSI corr of a constant column
    // throws DIVIDE_BY_ZERO, and the rewrite must reproduce it
    val rows = (1 to 400).map { i =>
      if (i > 390) ("tc", Some(5.0), Some((i % 7).toDouble), i.toDouble)
      else (s"t${i % 3}",
        if (i % 5 == 0) None else Some(((i * 7) % 23).toDouble),
        if (i % 4 == 0) None else Some((((i * 7) % 23) + (i % 3) * 5).toDouble),
        i.toDouble)
    }.toDF("k1", "x", "y", "z")
    Storage.commitVersion(rows, base)
    val both = col("x").isNotNull && col("y").isNotNull
    Storage.commitVersion(
      Storage.readVersion(spark, base).groupBy("k1")
        .agg(count(lit(1)).as("count_rows"),
          sum(when(both, 1L).otherwise(0L)).as("xy_n"),
          sum(when(both, col("x"))).as("xy_sx"),
          sum(when(both, col("y"))).as("xy_sy"),
          sum(when(both, col("x") * col("x"))).as("xy_sxx"),
          sum(when(both, col("y") * col("y"))).as("xy_syy"),
          sum(when(both, col("x") * col("y"))).as("xy_sxy")),
      view)
    val vdir = base.resolve(s"v${Storage.currentVersion(base).get}")
    def register(): Unit = MatView.register(MatView.Def(
      name = "cov_t", baseRoots = () => Set(MatView.root(vdir)),
      view = () => Storage.readVersion(spark, view),
      keys = Seq("k1"), countCol = Some("count_rows"),
      covs = Map("xy" -> ("x", "y"))))
    register()
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (p: Double, q: Double) =>
        (p.isNaN && q.isNaN) || math.abs(p - q) <= 1e-9 * (1 + math.abs(q))
      case (p, q) => p == q
    }
    withRule {
      // the non-degenerate groups: corr + both covariances + the SWAPPED
      // argument order (the formulas are symmetric — one registration
      // serves both), compared against the base truth
      def shape(df: DataFrame) = df.filter(col("k1") =!= "tc").groupBy("k1")
        .agg(corr(col("x"), col("y")).as("r"),
          covar_pop(col("x"), col("y")).as("cp"),
          covar_samp(col("x"), col("y")).as("cs"),
          corr(col("y"), col("x")).as("rSwap"),
          count(lit(1)).as("cnt"))
      val q = shape(Storage.readVersion(spark, base))
      assert(scanPaths(q).exists(_.contains(view.toString)) &&
        !scanPaths(q).exists(_.contains(base.toString)),
        "corr/covar must navigate onto the pair partials")
      val got = q.orderBy("k1").collect().toSeq
      MatView.clear()
      val want = shape(Storage.readVersion(spark, base)).orderBy("k1").collect().toSeq
      assert(got.size == want.size && got.zip(want).forall { case (g, w) =>
        (0 until g.size).forall(j => close(g.get(j), w.get(j))) },
        s"cross moments diverged:\n got  $got\n want $want")
      register()
      // constant-x group: the navigated corr must FAIL exactly as the
      // base plan fails under this session's ANSI mode (DIVIDE_BY_ZERO),
      // not soften the error into a null
      def constQ(df: DataFrame) = df.filter(col("k1") === "tc")
        .groupBy("k1").agg(corr(col("x"), col("y")).as("r"))
      val navigated = constQ(Storage.readVersion(spark, base))
      assert(scanPaths(navigated).exists(_.contains(view.toString)))
      val navEx = intercept[Exception](navigated.collect())
      MatView.clear()
      val baseEx = intercept[Exception](
        constQ(Storage.readVersion(spark, base)).collect())
      assert(navEx.toString.contains("DIVIDE_BY_ZERO") ==
        baseEx.toString.contains("DIVIDE_BY_ZERO"),
        s"constant-column corr must fail like the base plan:\n " +
          s"navigated $navEx\n base $baseEx")
      register()
      // an UNREGISTERED pair falls back
      val uq = Storage.readVersion(spark, base).groupBy("k1")
        .agg(corr(col("x"), col("z")).as("rz"))
      assert(!scanPaths(uq).exists(_.contains(view.toString)),
        "an unregistered pair must fall back")
      // ROLLUP rides the six pair partials like any partial column (the
      // key-only filter commutes below the Expand)
      def rshape(df: DataFrame) = df.filter(col("k1") =!= "tc")
        .rollup("k1").agg(covar_samp(col("x"), col("y")).as("cs"),
          count(lit(1)).as("cnt"))
      val rq = rshape(Storage.readVersion(spark, base))
      assert(scanPaths(rq).exists(_.contains(view.toString)) &&
        !scanPaths(rq).exists(_.contains(base.toString)),
        "rollup covar must navigate")
      val rgot = rq.orderBy(col("k1").asc_nulls_first).collect().toSeq
      MatView.clear()
      val rwant = rshape(Storage.readVersion(spark, base))
        .orderBy(col("k1").asc_nulls_first).collect().toSeq
      assert(rgot.zip(rwant).forall { case (g, w) =>
        (0 until g.size).forall(j => close(g.get(j), w.get(j))) },
        s"rollup covar diverged:\n got  $rgot\n want $rwant")
      register()
      // the whole regr_* family serves from the SAME six pair partials:
      // the declarative trio (slope/intercept/r2) by role-normalized
      // formula, avgx/avgy through their pairwise-gated Average
      // lowering, count through the two-column Count lowering, and
      // sxx/syy through RegrReplacement — including the constant-x
      // group's NULL-guard edges (tc: slope/intercept/r2 NULL, sxx 0.0)
      // and the ROLE SWAP (regr_slope(x, y) treats y as independent)
      def regrShape(df: DataFrame) = df.groupBy("k1").agg(
        expr("regr_slope(y, x)").as("sl"),
        expr("regr_intercept(y, x)").as("ic"),
        expr("regr_r2(y, x)").as("r2"),
        expr("regr_avgx(y, x)").as("ax"),
        expr("regr_avgy(y, x)").as("ay"),
        expr("regr_count(y, x)").as("rc"),
        expr("regr_sxx(y, x)").as("sxx"),
        expr("regr_syy(y, x)").as("syy"),
        expr("regr_sxy(y, x)").as("sxy"),
        expr("regr_slope(x, y)").as("slSwap"))
      val gq = regrShape(Storage.readVersion(spark, base))
      assert(scanPaths(gq).exists(_.contains(view.toString)) &&
        !scanPaths(gq).exists(_.contains(base.toString)),
        "the regr_* family must navigate onto the pair partials")
      val ggot = gq.orderBy("k1").collect().toSeq
      MatView.clear()
      val gwant = regrShape(Storage.readVersion(spark, base))
        .orderBy("k1").collect().toSeq
      assert(ggot.size == gwant.size && ggot.zip(gwant).forall { case (g, w) =>
        (0 until g.size).forall(j => close(g.get(j), w.get(j))) },
        s"regr family diverged:\n got  $ggot\n want $gwant")
      register()
      // the EMPTY arm: a global aggregate whose key-only FILTER excludes
      // every row re-aggregates NOTHING — n is NULL, not 0, and the
      // clamped moments (greatest(NULL, 0) = 0) must not turn that into
      // a spurious 0.0 / divide-by-zero answer where the base says NULL
      def emptyShape(df: DataFrame) = df.agg(
        expr("regr_sxx(y, x) FILTER (WHERE k1 = 'nope')").as("sxx"),
        expr("regr_slope(y, x) FILTER (WHERE k1 = 'nope')").as("sl"),
        expr("corr(x, y) FILTER (WHERE k1 = 'nope')").as("r"),
        expr("regr_count(y, x) FILTER (WHERE k1 = 'nope')").as("rc"))
      val eq2 = emptyShape(Storage.readVersion(spark, base))
      assert(scanPaths(eq2).exists(_.contains(view.toString)),
        "the empty-filter panel must still navigate")
      val egot = eq2.collect().head
      MatView.clear()
      val ewant = emptyShape(Storage.readVersion(spark, base)).collect().head
      assert((0 until egot.size).forall(j => close(egot.get(j), ewant.get(j))),
        s"empty-arm edge diverged:\n got  $egot\n want $ewant")
      // wrong-before-the-fix spot check: sxx NULL (not 0.0), count 0
      assert(egot.isNullAt(0) && egot.getLong(3) == 0L,
        s"empty arm must answer NULL (and count 0): $egot")
    }
    Storage.deleteRecursively(root)
  }
}
