package graft

/** Dev-only plan-evidence fixtures cited by PLANS.md: each mode builds a
  * minimal fixture at SPARK_GRAFT_SF_DIR (default sf0.1) and prints its
  * plans. A registry query's plan is `graft.PlanDump`; its timing is
  * `SPARK_GRAFT_ONLY=<names> graft.Bench`.
  *
  *   sbt "runMain graft.Scratch plan-widen|plan-mv1011|plan-mv1213"
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption
      .filter(Set("plan-widen", "plan-mv1011", "plan-mv1213"))
      .getOrElse(sys.error(
        "usage: runMain graft.Scratch plan-widen|plan-mv1011|plan-mv1213"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    if (mode == "plan-widen") {
      // PLANS.md source for the type-widening read: the m12 fixture's
      // composed scan BEFORE the gate row's localCheckpoint truncates it.
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("widen_plan")
      val table = dir.resolve("orders_evolved")
      val o = Tables.orders(spark, sfDir)
      val bucket = pmod(col("o_orderkey"), lit(8)).cast("int")
      ops.Storage.commitPartitions(
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey").cast("int").as("o_custkey"),
            col("o_totalprice").cast("float").as("o_totalprice"))
          .withColumn("pbucket", bucket), table, "pbucket", keepVersions = 4)
      ops.Storage.commitPartitions(
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey").cast("long").as("o_custkey"),
            col("o_totalprice").cast("double").as("o_totalprice"),
            length(col("o_orderpriority")).cast("long").as("prio_len"))
          .withColumn("pbucket", bucket), table, "pbucket", keepVersions = 4)
      val df = ops.Storage.readPartitionedVersion(spark, table)
      df.collect()
      println("[plan-full-begin]")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println("[plan-full-end]")
      ops.Storage.deleteRecursively(dir)
    }
    if (mode == "plan-mv1011") {
      // PLANS.md source for the round-19 navigated shapes, BEFORE the gate
      // rows' localCheckpoint truncates the logical plan: a minimal
      // (no-churn) fixture of the mv10 star distinct/sketch views and the
      // mv11 distribution view, then the three navigated optimized plans.
      import org.apache.spark.sql.functions._
      import graft.ops.{MatViews, MergeOps, Storage}
      import graft.plans.{KmvSketch, MatView, MatViewJoinRewrite, MatViewRewrite}
      val dir = java.nio.file.Files.createTempDirectory("plan_mv1011")
      val (nat, cust, ord) = (dir.resolve("dim_nation"),
        dir.resolve("dim_customer"), dir.resolve("fct_orders"))
      val (viewK, viewD, evB, evV) = (dir.resolve("view_kmv"),
        dir.resolve("view_distinct"), dir.resolve("ev_base"), dir.resolve("ev_view"))
      def stamp(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("loaded_at", lit(null).cast("timestamp"))
        .withColumn("last_upd_at", lit(null).cast("timestamp"))
      def load(t: java.nio.file.Path, df: org.apache.spark.sql.DataFrame,
          pk: String, tracked: Seq[String]) =
        MergeOps.prunedConditionalUpsert(t, stamp(df), pk = Seq(pk),
          tracked = tracked, runTs = lit("2024-01-01 00:00:00").cast("timestamp"),
          nParts = 4, keepVersions = 4)
      load(nat, Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name")),
        "n_nationkey", Seq("n_name"))
      load(cust, Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey")),
        "c_custkey", Seq("c_nationkey"))
      load(ord, Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        "o_orderkey", Seq("o_custkey"))
      val sides = Seq(MatViews.StarSide(ord, Seq("o_orderkey")),
        MatViews.StarSide(cust, Seq("c_custkey")),
        MatViews.StarSide(nat, Seq("n_nationkey")))
      val jks = Seq("o_custkey" -> "c_custkey", "c_nationkey" -> "n_nationkey")
      MatViews.maintainStar(spark, sides, viewK, jks, keys = Seq("n_name"),
        kmvs = Map("c_custkey" -> "kmv_cust"), kmvK = 64)
      MatViews.maintainStar(spark, sides, viewD, jks,
        keys = Seq("n_name", "c_custkey"))
      Seq(nat, cust, ord).foreach(Storage.compact(spark, _))
      MatViews.maintainStar(spark, sides, viewK, jks, keys = Seq("n_name"),
        kmvs = Map("c_custkey" -> "kmv_cust"), kmvK = 64)
      MatViews.maintainStar(spark, sides, viewD, jks,
        keys = Seq("n_name", "c_custkey"))
      MatViews.registerStarRewrite(spark, "mv10d", Seq(ord, cust, nat), viewD,
        joinKeys = jks, keys = Seq("n_name", "c_custkey"))
      MatViews.registerStarRewrite(spark, "mv10k", Seq(ord, cust, nat), viewK,
        joinKeys = jks, keys = Seq("n_name"),
        kmvs = Map("c_custkey" -> "kmv_cust"), kmvK = 64)
      val ev = Tables.events(spark, sfDir).select(col("event_id"),
        col("event_type"), col("value"))
      load(evB, ev, "event_id", Seq("event_type", "value"))
      MatViews.maintain(spark, evB, evV, pk = Seq("event_id"),
        keys = Seq("event_type", "value"))
      Storage.compact(spark, evB)
      MatViews.maintain(spark, evB, evV, pk = Seq("event_id"),
        keys = Seq("event_type", "value"))
      MatViews.registerRewrite(spark, "mv11", evB, evV,
        keys = Seq("event_type", "value"))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ Seq(MatViewRewrite, MatViewJoinRewrite)
      def joined = Storage.readPartitionedVersion(spark, ord)
        .join(Storage.readPartitionedVersion(spark, cust),
          col("o_custkey") === col("c_custkey"))
        .join(Storage.readPartitionedVersion(spark, nat),
          col("c_nationkey") === col("n_nationkey"))
      val shapes = Seq(
        "mv10-exact: COUNT(DISTINCT c_custkey) per n_name over fact⋈cust⋈nation" ->
          joined.groupBy(col("n_name")).agg(count(lit(1)).as("cnt"),
            countDistinct(col("c_custkey")).as("n_cust")),
        "mv10-sketch: KMV estimate per n_name over the same star" ->
          joined.groupBy(col("n_name"))
            .agg(KmvSketch.distinctEstimate(col("c_custkey"), 64).as("est_cust")),
        "mv11: median/percentile per event_type" ->
          Storage.readPartitionedVersion(spark, evB).groupBy(col("event_type"))
            .agg(median(col("value")).as("med"),
              percentile(col("value"), lit(0.75)).as("p75")),
        "expression grouping: substr(event_type) band + key-only FILTER agg" ->
          Storage.readPartitionedVersion(spark, evB)
            .groupBy(substring(col("event_type"), 1, 1).as("initial"))
            .agg(count(lit(1)).as("cnt"),
              expr("count(*) FILTER (WHERE value > 50)").as("cnt_hi")))
      shapes.foreach { case (label, df) =>
        df.collect()
        println(s"[plan-begin] $label")
        println(df.queryExecution.optimizedPlan.treeString)
        println("[plan-end]")
      }
      println("[explain-begin]")
      println(MatViews.explainNavigationString(
        Storage.readPartitionedVersion(spark, evB).groupBy(col("event_type"))
          .agg(median(col("value")).as("med"))))
      println(MatViews.explainNavigationString(
        Storage.readPartitionedVersion(spark, evB).groupBy(col("value"))
          .agg(avg(col("value")).as("a"))))
      println("[explain-end]")
      MatView.clear()
      Storage.deleteRecursively(dir)
    }
    if (mode == "plan-mv1213") {
      // PLANS.md source for the round-20 navigated shapes: the variance/
      // stddev family over Σx² partials (mv12) and the heavy-hitters
      // top-k composition (mv13), before the gate rows' localCheckpoint
      // truncates the logical plan. Minimal no-churn fixture.
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      import graft.ops.{MatViews, MergeOps, Storage}
      import graft.plans.{MatView, MatViewRewrite}
      val dir = java.nio.file.Files.createTempDirectory("plan_mv1213")
      val (evB, evV, tkB, tkV) = (dir.resolve("ev_base"), dir.resolve("ev_view"),
        dir.resolve("tk_base"), dir.resolve("tk_view"))
      def stamp(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("loaded_at", lit(null).cast("timestamp"))
        .withColumn("last_upd_at", lit(null).cast("timestamp"))
      val ev = Tables.events(spark, sfDir).select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      MergeOps.prunedConditionalUpsert(evB,
        stamp(ev.select(col("event_id"), col("event_type"), col("value"),
          col("user_id").cast("double").as("user_id"))),
        pk = Seq("event_id"), tracked = Seq("event_type", "value", "user_id"),
        runTs = lit("2024-01-01 00:00:00").cast("timestamp"),
        nParts = 4, keepVersions = 4)
      // one view serves the WHOLE statistical panel: power sums through
      // Σx⁴ plus a (value, user_id) cov pair — variance, skew, kurt, and
      // corr all read the same maintained state
      def maintainVar() = MatViews.maintain(spark, evB, evV,
        pk = Seq("event_id"), keys = Seq("event_type"),
        sums = Map("value" -> "sum_v"), counts = Map("value" -> "cnt_v"),
        sumsqs = Map("value" -> "ssq_v"), sumcubes = Map("value" -> "scu_v"),
        sumquads = Map("value" -> "squ_v"),
        covs = Map("vu" -> ("value", "user_id")))
      maintainVar(); Storage.compact(spark, evB); maintainVar()
      MatViews.registerRewrite(spark, "mv12", evB, evV,
        keys = Seq("event_type"), sums = Map("value" -> "sum_v"),
        counts = Map("value" -> "cnt_v"), sumsqs = Map("value" -> "ssq_v"),
        sumcubes = Map("value" -> "scu_v"), sumquads = Map("value" -> "squ_v"),
        covs = Map("vu" -> ("value", "user_id")))
      MergeOps.prunedConditionalUpsert(tkB,
        stamp(ev.select(col("event_id"), col("event_type"),
          (col("user_id") % 53).as("item"))),
        pk = Seq("event_id"), tracked = Seq("event_type", "item"),
        runTs = lit("2024-01-01 00:00:00").cast("timestamp"),
        nParts = 4, keepVersions = 4)
      def maintainTk() = MatViews.maintain(spark, tkB, tkV,
        pk = Seq("event_id"), keys = Seq("event_type", "item"))
      maintainTk(); Storage.compact(spark, tkB); maintainTk()
      MatViews.registerRewrite(spark, "mv13", tkB, tkV,
        keys = Seq("event_type", "item"))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MatViewRewrite
      val shapes = Seq(
        "mv12: variance/stddev panel per event_type (Σx² partials)" ->
          Storage.readPartitionedVersion(spark, evB).groupBy(col("event_type"))
            .agg(var_samp(col("value")).as("vs"),
              stddev_pop(col("value")).as("sp"),
              avg(col("value")).as("av"), count(lit(1)).as("cnt")),
        "mv14: skewness/kurtosis per event_type (Σx³/Σx⁴ power sums)" ->
          Storage.readPartitionedVersion(spark, evB).groupBy(col("event_type"))
            .agg(skewness(col("value")).as("sk"),
              kurtosis(col("value")).as("ku")),
        "mv15: corr/covar per event_type (pairwise cross sums)" ->
          Storage.readPartitionedVersion(spark, evB).groupBy(col("event_type"))
            .agg(corr(col("value"), col("user_id")).as("r"),
              covar_samp(col("value"), col("user_id")).as("cs")),
        "mv16: regr trendline per event_type (same pair partials)" ->
          Storage.readPartitionedVersion(spark, evB).groupBy(col("event_type"))
            .agg(expr("regr_slope(value, user_id)").as("slope"),
              expr("regr_r2(value, user_id)").as("r2"),
              expr("regr_count(value, user_id)").as("rc")),
        "mv13: top-3 items per event_type (aux-view count + row_number)" ->
          Storage.readPartitionedVersion(spark, tkB)
            .groupBy(col("event_type"), col("item"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("rn", row_number().over(Window.partitionBy("event_type")
              .orderBy(col("cnt").desc, col("item"))))
            .filter(col("rn") <= 3))
      shapes.foreach { case (label, df) =>
        df.collect()
        println(s"[plan-begin] $label")
        println(df.queryExecution.optimizedPlan.treeString)
        println("[plan-end]")
      }
      println("[explain-begin]")
      println(ops.MatViews.explainNavigationString(
        Storage.readPartitionedVersion(spark, evB).groupBy(col("event_type"))
          .agg(var_samp(col("value")).as("vs"))))
      println("[explain-end]")
      MatView.clear()
      Storage.deleteRecursively(dir)
    }
    spark.stop()
  }
}
