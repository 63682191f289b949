package graft

/** Plan-evidence dumper: writes `.explain("formatted")` output for the named
  * queries to plans/<dir>/<query>_<tag>.txt (guide §1: capture the plan
  * before and after every change). Not part of the bench contract.
  *
  *   SPARK_GRAFT_PLANS="q9_profit_by_nation" SPARK_GRAFT_PLAN_TAG=before \
  *     sbt "runMain graft.PlanDump"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r21"))
    val names = sys.env.getOrElse("SPARK_GRAFT_PLANS", "q9_profit_by_nation")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Session.local()
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name NOT FOUND")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
            txt.getBytes("UTF-8"))
          println(s"== $name -> ${outDir.resolve(s"${name}_$tag.txt")}")
      }
    }
    spark.stop()
  }
}
