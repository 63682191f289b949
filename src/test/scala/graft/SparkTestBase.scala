package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), on the engine's
  * one session configuration ([[Session]]). Four cores, explicitly: the
  * suite must not follow `$SPARK_GRAFT_CPUS`. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  val Sf001 = "/root/testdata/sf0.001"
}
