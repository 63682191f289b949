package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every main and spec runs on, so the plans
  * the oracle checks (Verify) are the plans the bench times (Bench). */
object Session {

  /** A builder carrying the shared conf; callers may add extensions. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // scan parallelism (guide §6): the per-file open-cost adder floors
      // split sizes at 4 MB by default, so a modest file gets ~3 splits no
      // matter how many cores the session has — splits then stop
      // adapting to the core count. On local NVMe the
      // true open cost is far below 4 MB; with it lowered, split size
      // falls back to totalBytes/defaultParallelism (i.e. it SCALES with
      // the core count) while maxPartitionBytes still caps huge scans.
      // Object-store deployments (real per-open latency) should keep the
      // 4 MB default — see OPTIMIZATION_r21.md.
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      // joins (guide §3.1/§9): allow the planner to pick shuffled-hash
      // over sort-merge when its size conditions hold — every pruned
      // upsert/CDF/merge is a full-outer join on the PK whose sides are
      // delta-or-bucket sized, where SHJ skips both sort passes. Scale
      // note: this is the guide's recommended baseline, not a local-mode
      // trick; SMJ remains the fallback whenever the build side may not
      // fit its partition's memory.
      .config("spark.sql.join.preferSortMergeJoin", "false")

  /** The shared session on `cores` local cores (default
    * `$SPARK_GRAFT_CPUS`, else 4), logging at WARN. */
  def local(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
