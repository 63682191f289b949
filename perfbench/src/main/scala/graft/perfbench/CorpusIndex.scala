package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import graft.ops.{AnnIndex, DedupIndex, Similarity, Storage}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-pipeline batches against the persisted dedup and ANN indexes:
  * dedupNew → append of the survivors → append of the batch vectors (write
  * phase), then batched ANN searches over the index they left (read
  * phase). */
final class CorpusIndex(ctx: Ctx) extends Workload {
  val name = "corpus_index"
  /** index geometry and search knobs */
  val ivfLists = 8
  val pqM = 16
  val pqK = 16
  val k = 10
  val nprobe = 4
  val rerank = 50
  private def spark = ctx.spark
  private val in = ctx.in
  private val maxBatches = ctx.manifest.param("batches").toInt
  private val batchDocs = ctx.manifest.param("batch_docs").toInt
  private val nQueries = ctx.manifest.param("queries").toInt
  private val plantedIn: Map[Int, Seq[(Long, String)]] = ctx.manifest.perStep("planted") {
    case org.json4s.JArray(xs) => xs.map {
      case org.json4s.JArray(Seq(org.json4s.JInt(id), org.json4s.JString(kind))) => id.toLong -> kind
      case v => throw new IllegalArgumentException(s"planted: $v")
    }
    case v => throw new IllegalArgumentException(s"planted: $v")
  }
  private var dedupDir: Path = _
  private var annDir: Path = _
  private var batchesDone = 0
  private var docsIn = 0L
  private var planted = 0L
  private var plantedFlagged = 0L
  private val missedExact = mutable.ArrayBuffer.empty[Long]
  private val diffs = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def params: Map[String, Any] = ctx.manifest.params ++ Map("ivf_lists" -> ivfLists,
    "pq_m" -> pqM, "pq_ksub" -> pqK, "k" -> k, "nprobe" -> nprobe, "rerank" -> rerank)

  private def docs(batch: Int): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING")
      .parquet(in.resolve("docs").resolve(s"batch=$batch").toString)
  private def vectors(batch: Int): DataFrame =
    spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .parquet(in.resolve("vectors").resolve(s"batch=$batch").toString)
  private def vectorsUpTo(batch: Int): DataFrame =
    spark.read.schema(CorpusIndex.VecSchema).parquet(in.resolve("vectors").toString)
      .filter(col("batch") <= batch).select(col("vec_id"), col("embedding"))
  private def queries: DataFrame = spark.read.parquet(in.resolve("queries").toString)

  def fixture(dir: Path): Unit = {
    dedupDir = dir.resolve("dedup")
    annDir = dir.resolve("ann")
    DedupIndex.bootstrap(dedupDir, docs(0).select(col("doc_id"), col("text")))
    val boot = vectors(0).localCheckpoint()
    AnnIndex.bootstrap(annDir, boot,
      Similarity.kmeansCentroids(boot, c = ivfLists, iters = 2),
      Similarity.pqCodebooks(boot, m = pqM, ksub = pqK, iters = 1), m = pqM)
  }

  /** One batch: dedup probe, append of the survivors, append of the vectors. */
  private def batch(b: Int): Seq[Long] = {
    val (fresh, survivors) = ctx.layer("dedup.dedup_new") {
      val d = docs(b)
      (d, DedupIndex.dedupNew(spark, dedupDir, d.select(col("doc_id"), col("text")))
        .collect().map(_.getLong(0)).toSeq)
    }
    ctx.layer("dedup.append") {
      DedupIndex.append(spark, dedupDir, fresh.filter(col("doc_id").isin(survivors: _*))
        .select(col("doc_id"), col("text")))
    }
    ctx.layer("ann.append")(AnnIndex.append(spark, annDir, vectors(b)))
    batchesDone = b
    survivors
  }
  private def search(b: Int): Array[Row] =
    ctx.layer("ann.search") {
      AnnIndex.searchBatch(spark, annDir, vectorsUpTo(b), queries,
        k = k, nprobe = nprobe, rerank = rerank).collect()
    }

  def writeStep(i: Int): Boolean = {
    val b = i + 1
    if (b > maxBatches) return false
    val before = if (ctx.tracer.on) DirStats.snapshot(Seq(dedupDir, annDir)) else Map.empty[String, Long]
    ctx.op("append")(batch(b)).foreach { survivors =>
      docsIn += batchDocs
      val kinds = plantedIn.getOrElse(b, Nil)
      val alive = survivors.toSet
      planted += kinds.size
      plantedFlagged += kinds.count { case (id, _) => !alive.contains(id) }
      missedExact ++= kinds.collect { case (id, "exact") if alive.contains(id) => id }
      if (ctx.tracer.on) diffs += DirStats.diff(before, DirStats.snapshot(Seq(dedupDir, annDir)),
        DirStats.bytes(Seq(in.resolve("docs").resolve(s"batch=$b"), in.resolve("vectors").resolve(s"batch=$b"))))
    }
    true
  }

  /** The read phase searches the index the batches left, at pinned versions. */
  def prepareReads(): Unit = ()
  def readStep(i: Int): Boolean = {
    ctx.op("search")(search(batchesDone)).foreach(r => lastSearch = r.toSeq)
    true
  }
  override def minReadSteps: Int = 2
  private var lastSearch: Seq[Row] = Nil

  def checks: Seq[(String, () => (Boolean, String))] = Seq(
    "planted_exact_duplicates_flagged" -> (() =>
      (missedExact.isEmpty, s"exact duplicates not flagged: ${missedExact.take(10)}")),
    "search_batch_returns_k_per_query" -> (() =>
      (lastSearch.size == nQueries * k, s"${lastSearch.size} rows for $nQueries queries of top-$k"))) ++
    queries.select(col("query_id")).collect().map(_.getLong(0)).toSeq.map { qid =>
      s"search_batch_equals_ivfpq_on_the_fly_q$qid" -> { () =>
        val stored = lastSearch.filter(_.getAs[Long]("query_id") == qid)
          .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSet
        val fly = Similarity.ivfPqTopK(vectorsUpTo(batchesDone),
            queries.filter(col("query_id") === qid).select(col("qe")),
            Storage.readVersion(spark, annDir.resolve("centroids")),
            Storage.readVersion(spark, annDir.resolve("codebooks")),
            m = pqM, k = k, nprobe = nprobe, rerank = rerank)
          .select(col("vec_id"), col("cos_sim")).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSet
        (stored == fly, s"${stored.size} stored rows, ${fly.size} on-the-fly; only stored: " +
          s"${(stored diff fly).toSeq.sorted}, only on the fly: ${(fly diff stored).toSeq.sorted}")
      }
    }

  def named: Seq[Metric] = Seq(
    Workload.p50(ctx, "append", "append_p50_s"),
    Workload.p50(ctx, "search", "search_p50_s"),
    writeRate.copy(name = "docs_per_s"),
    readRate.copy(name = "search_queries_per_s"))
  def writeKind = "append"
  def readKind = "search"
  def writeRate: Metric = Workload.rate(ctx, docsIn.toDouble, Seq("append"), "write_rate", "docs/s")
  def readRate: Metric =
    Workload.rate(ctx, nQueries.toDouble * ctx.values("search").size, Seq("search"), "read_rate", "q/s")
  def layerCounts: Map[String, Double] = Map(
    "dedup.dup_found_ratio" -> (if (planted == 0) Double.NaN else plantedFlagged.toDouble / planted)) ++
    DirStats.perOp(diffs.toSeq)
}

object CorpusIndex {
  val VecSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("batch", IntegerType)))
}
