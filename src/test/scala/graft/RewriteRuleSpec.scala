package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RewriteRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  // getOrCreate would return any already-active session and silently skip
  // withExtensions — clear first so this suite really gets the rule
  private lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    Session.builder(4).withExtensions(new GraftExtensions).getOrCreate()
  }

  // leave no extension-carrying session behind for later suites' getOrCreate
  // (the SparkContext stays up: it is shared by every suite in the JVM)
  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    super.afterAll()
  }

  private def fixtures = {
    import spark.implicits._
    val fact = Seq((1, Option("u1")), (2, Option("u2")), (3, Option.empty[String]),
      (4, Option("zzz"))).toDF("fact_id", "key")
    val dim = Seq((Option("u1"), 10L), (Option("u2"), 20L),
      (Option.empty[String], -1L)).toDF("key", "dim_id")
    (fact, dim)
  }

  test("OR-unknown-member join is rewritten to a hash join with identical results") {
    val (fact, dim) = fixtures
    val joined = fact.join(dim,
      fact("key") === dim("key") ||
        (fact("key").isNull && dim("dim_id") === -1L))
      .select(col("fact_id"), col("dim_id"))

    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"rule did not rewrite the disjunctive join:\n$plan")

    val got = joined.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // u1→10, u2→20, NULL→unknown(-1); 'zzz' matches nothing
    assert(got == Set((1, 10L), (2, 20L), (3, -1L)))
  }

  test("extensions expose the fused dot product as a SQL function") {
    val r = spark.sql(
      "SELECT CAST(graft_fixed_point_dot(array(0.5D, 0.5D), array(1.0D, 1.0D)) AS STRING) AS d")
      .head().getString(0)
    assert(r == "100000000000000000000") // 2 × (5e9 × 1e10) unit products = 1e20
  }

  test("joins that merely look similar are left untouched (no false rewrites)") {
    val (fact, dim) = fixtures
    // second disjunct references the LEFT side id — not the pattern
    val other = fact.join(dim,
      fact("key") === dim("key") ||
        (dim("key").isNull && fact("fact_id") === 3))
      .select(col("fact_id"), col("dim_id"))
    val got = other.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == Set((1, 10L), (2, 20L), (3, -1L)))
  }
}
