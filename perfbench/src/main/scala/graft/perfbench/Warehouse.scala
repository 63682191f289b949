package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.ops.{MatViews, MergeOps, Scd2, Storage}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Warehouse {
  /** Schemas of the generated inputs, without their `load` partition column. */
  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_totalprice", DecimalType(38, 2)), StructField("o_status", StringType)))
  val CustomerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_nationkey", IntegerType),
    StructField("c_mktsegment", StringType)))
  val TakedownSchema: StructType = StructType(Seq(StructField("o_orderkey", LongType)))

  def runTs(load: Int): String =
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(load.toLong)
      .toString.replace('T', ' ') + ":00"
  def epochOf(load: Int): Long =
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusDays(load.toLong)
      .toEpochSecond(java.time.ZoneOffset.UTC)
}

/** The warehouse the ELT workload loads and its mart mix reads:
  * stg orders / stg customers (pruned conditional upserts), a static
  * nation table, the SCD2 customer dimension, the load-epoch partitioned
  * order fact, and the star view over orders ⋈ customers ⋈ nation. */
final class Warehouse(ctx: Ctx, val root: Path, val in: Path, buckets: Int) {
  private def spark = ctx.spark
  val stgOrders: Path = root.resolve("stg_orders")
  val stgCustomers: Path = root.resolve("stg_customers")
  val nation: Path = root.resolve("nation")
  val dim: Path = root.resolve("dim_customer")
  val fact: Path = root.resolve("fct_orders")
  val view: Path = root.resolve("mv_star_nation")
  val tables: Seq[Path] = Seq(stgOrders, stgCustomers, nation, dim, fact)
  val OrderTracked = Seq("o_custkey", "o_totalprice", "o_status")
  val CustTracked = Seq("c_nationkey", "c_mktsegment")
  val DimTracked = Seq("c_nationkey")
  val sides = Seq(MatViews.StarSide(stgOrders, Seq("o_orderkey")),
    MatViews.StarSide(stgCustomers, Seq("c_custkey")),
    MatViews.StarSide(nation, Seq("n_nationkey")))
  val joinKeys = Seq("o_custkey" -> "c_custkey", "c_nationkey" -> "n_nationkey")
  val sums = Map("o_totalprice" -> "sum_rev")
  val counts = Map("o_totalprice" -> "cnt_rev")
  val mins = Map("o_totalprice" -> "min_rev")
  val maxs = Map("o_totalprice" -> "max_rev")
  /** dim version committed by each load */
  val dimVersionOf = mutable.HashMap.empty[Int, Long]
  var loadsDone: Int = -1

  private def input(name: String, load: Int): DataFrame = {
    val schema = name match {
      case "orders" => Warehouse.OrderSchema
      case "customers" => Warehouse.CustomerSchema
      case _ => Warehouse.TakedownSchema
    }
    spark.read.schema(schema).parquet(in.resolve(name).resolve(s"load=$load").toString)
  }
  private def stamp(df: DataFrame): DataFrame = df
    .withColumn("loaded_at", lit(null).cast("timestamp"))
    .withColumn("last_upd_at", lit(null).cast("timestamp"))
  private def ts(load: Int): Column = lit(Warehouse.runTs(load)).cast("timestamp")
  /** stg orders versions before and after the last load's steps 1 */
  private var ordersSpan: (Option[Long], Long) = (None, -1L)

  /** Steps 1–4 of one load; load 0 bootstraps every table. */
  def load(i: Int): Unit = {
    val before = Storage.currentVersion(stgOrders)
    val orders = ctx.layer("merge.upsert") {
      val orders = input("orders", i)
      MergeOps.prunedConditionalUpsert(stgOrders, stamp(orders), pk = Seq("o_orderkey"),
        tracked = OrderTracked, runTs = ts(i), nParts = buckets, keepVersions = 4)
      orders
    }
    if (i > 0) ctx.layer("merge.delete") {
      MergeOps.prunedDelete(stgOrders, input("takedowns", i), pk = Seq("o_orderkey"),
        nParts = buckets, keepVersions = 4)
    }
    ordersSpan = (before, Storage.currentVersion(stgOrders).get)
    ctx.layer("merge.upsert") {
      MergeOps.prunedConditionalUpsert(stgCustomers, stamp(input("customers", i)),
        pk = Seq("c_custkey"), tracked = CustTracked, runTs = ts(i),
        nParts = buckets, keepVersions = 4)
    }
    if (i == 0) ctx.layer("merge.upsert") {
      MergeOps.prunedConditionalUpsert(nation, stamp(spark.read.parquet(in.resolve("nation").toString)),
        pk = Seq("n_nationkey"), tracked = Seq("n_name", "n_regionkey"), runTs = ts(i),
        nParts = 4, keepVersions = 4)
    }
    dimVersionOf(i) = ctx.layer("scd2.close_insert") {
      val stg = Storage.readPartitionedVersion(spark, stgCustomers)
        .select(col("c_custkey"), col("c_nationkey"))
      val prev = Storage.readVersionOr(spark, dim, Scd2.emptyDim(stg, "c_custkey", DimTracked))
      Storage.commitVersion(
        Scd2.closeAndInsert(prev, stg, "c_custkey", DimTracked, ts(i), "sk"),
        dim, keepVersions = 4)
    }
    ctx.layer("storage.commit_partitions") {
      val current = Storage.readVersion(spark, dim).filter(col("is_current"))
        .select(col("c_custkey"), col("sk").as("cust_sk"))
      val resolved = orders.join(broadcast(current), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("cust_sk"), col("o_totalprice"),
          ts(i).as("inserted_at"))
      val fresh = Storage.currentVersion(fact) match {
        case Some(_) => resolved.join(
          Storage.readPartitionedVersion(spark, fact).select(col("o_orderkey")),
          Seq("o_orderkey"), "left_anti")
        case None => resolved
      }
      Storage.commitPartitions(fresh.withColumn("load_epoch", lit(Warehouse.epochOf(i))),
        fact, "load_epoch", keepVersions = 4)
    }
    loadsDone = i
  }

  /** (buckets the last load rewrote in stg orders, buckets committed) */
  def bucketsRewritten(): (Int, Int) = {
    val total = Storage.committedPartitions(stgOrders).size
    ordersSpan match {
      case (Some(b), a) => (Storage.partitionsChangedBetween(stgOrders, b, a).size, total)
      case _ => (total, total)
    }
  }

  /** One refresh: roll the star view forward, then let every table compact
    * if it has earned it. Returns the groups the view recomputed. */
  def refresh(): Long = {
    val r = ctx.layer("matviews.maintain_star") {
      MatViews.maintainStar(spark, sides, view, joinKeys, keys = Seq("n_name"),
        sums = sums, counts = counts, mins = mins, maxs = maxs, keepVersions = 2)
    }
    ctx.layer("storage.compact") { tables.foreach(t => Storage.maybeCompact(spark, t)) }
    r.recomputedGroups
  }

  // ---- ground truth, by plain Spark from the generated inputs -----------

  private def inputsUpTo(name: String, n: Int): DataFrame =
    spark.read.parquet(in.resolve(name).toString).filter(col("load") <= n)

  private val truthMemo = mutable.HashMap.empty[(String, Int), DataFrame]
  /** Truth frames are computed once per run (checks share them). */
  private def pinned(key: String, n: Int)(df: => DataFrame): DataFrame =
    truthMemo.synchronized(truthMemo.getOrElseUpdate((key, n), df.localCheckpoint()))

  /** stg orders after loads 0..n: latest row per key, minus takedowns. */
  def truthOrders(n: Int): DataFrame = pinned("orders", n) {
    val rows = inputsUpTo("orders", n)
    val latest = rows.join(rows.groupBy("o_orderkey").agg(max("load").as("load")),
      Seq("o_orderkey", "load"))
    latest.join(inputsUpTo("takedowns", n).select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .drop("load")
  }
  def truthCustomers(n: Int): DataFrame = pinned("customers", n) {
    val rows = inputsUpTo("customers", n)
    rows.join(rows.groupBy("c_custkey").agg(max("load").as("load")), Seq("c_custkey", "load"))
      .drop("load")
  }
  def truthNation: DataFrame = spark.read.parquet(in.resolve("nation").toString)
  /** fact after loads 0..n: every order key ever loaded, at its first load */
  def truthFact(n: Int): DataFrame = pinned("fact", n) {
    val rows = inputsUpTo("orders", n)
    rows.join(rows.groupBy("o_orderkey").agg(min("load").as("load")), Seq("o_orderkey", "load"))
  }
  def customerHistory(n: Int): DataFrame = inputsUpTo("customers", n)

  /** The star aggregate the view maintains, over any three sources. */
  def starAgg(o: DataFrame, c: DataFrame, nat: DataFrame): DataFrame =
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("count_rows"), sum(col("o_totalprice")).as("sum_rev"),
        count(col("o_totalprice")).as("cnt_rev"), min(col("o_totalprice")).as("min_rev"),
        max(col("o_totalprice")).as("max_rev"))

  /** Rows of `a` and `b` as multisets: equal iff both have the same row
    * count and the same sum of 64-bit row hashes (`b` is cast to `a`'s
    * column types first, so equal values hash alike). */
  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    def fingerprint(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")))
        .first()
      (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
    }
    val bb = b.select(a.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val (fa, fb) = (fingerprint(a), fingerprint(bb))
    (fa == fb, s"result has ${fa._1} rows, truth ${fb._1}; row hashes ${if (fa._2 == fb._2) "agree" else "differ"}")
  }

  /** The ELT output checks after loads 0..n, against the truth derived
    * from the inputs. */
  def checks(n: Int): Seq[(String, () => (Boolean, String))] = {
    def o = truthOrders(n)
    def c = truthCustomers(n)
    Seq(
      "stg_orders_latest_by_key" -> (() => sameRows(Storage.readPartitionedVersion(spark, stgOrders)
        .select((Seq("o_orderkey") ++ OrderTracked).map(col): _*), o)),
      "stg_customers_latest_by_key" -> (() => sameRows(Storage.readPartitionedVersion(spark, stgCustomers)
        .select((Seq("c_custkey") ++ CustTracked).map(col): _*), c)),
      "dim_one_current_row_and_history_per_change" -> { () =>
        val got = Storage.readVersion(spark, dim).groupBy("c_custkey")
          .agg(count(lit(1)).as("rows"), sum(col("is_current").cast("int")).as("current"),
            max(when(col("is_current"), col("c_nationkey"))).as("nat"))
        val want = customerHistory(n).groupBy("c_custkey").agg(count(lit(1)).as("rows"))
          .join(c.select(col("c_custkey"), col("c_nationkey").as("nat")), "c_custkey")
          .withColumn("current", lit(1L))
        sameRows(got.select("c_custkey", "rows", "current", "nat"),
          want.select("c_custkey", "rows", "current", "nat"))
      },
      "fact_keys_unique_and_complete" -> { () =>
        val f = Storage.readPartitionedVersion(spark, fact)
        val r = f.agg(count(lit(1)), countDistinct(col("o_orderkey"))).first()
        val (ok, why) = sameRows(f.select("o_orderkey", "o_custkey", "o_totalprice"),
          truthFact(n).select("o_orderkey", "o_custkey", "o_totalprice"))
        val wrongSk = f.join(Storage.readVersion(spark, dim)
            .select(col("sk").as("cust_sk"), col("c_custkey")), Seq("cust_sk"))
          .filter(col("c_custkey") =!= col("o_custkey")).count()
        (r.getLong(0) == r.getLong(1) && ok && wrongSk == 0,
          s"${r.getLong(0) - r.getLong(1)} duplicate keys; $why; $wrongSk rows whose sk names another customer")
      },
      "view_equals_star_recompute" -> (() => sameRows(Storage.readVersion(spark, view)
        .select("n_name", "count_rows", "sum_rev", "cnt_rev", "min_rev", "max_rev"),
        starAgg(o, c, truthNation))))
  }
}
