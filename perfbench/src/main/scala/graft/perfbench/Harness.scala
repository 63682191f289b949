package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the tracer, the seed,
  * the generated inputs, and the samples and checks it accumulates. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long, val in: Path) {
  /** What the input generator recorded next to the inputs. */
  lazy val manifest: Manifest = new Manifest(in.resolve("manifest.json"))
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val checkLog = mutable.ArrayBuffer.empty[(String, Boolean, String, Double)]
  private val heapSamples = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failedCalls = 0
  /** epoch-ms windows of the timed phases, for job attribution */
  val timedWindows = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v
  def values(kind: String): Seq[Double] = samples.getOrElse(kind, Nil).toSeq

  /** One timed closed-loop operation: its wall lands in the samples of
    * `kind` and of each of `also`, its CPU time in `<kind>.cpu`. A call that throws counts as failed and
    * yields None. */
  def op[A](kind: String, also: String*)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Ctx.cpuNanos()
    try {
      val r = tracer.span("op." + kind)(body)
      val s = (System.nanoTime() - t0) / 1e9
      val c = (Ctx.cpuNanos() - c0) / 1e9
      (kind +: also).foreach { k => add(k, s); add(k + ".cpu", c) }
      Some(r)
    } catch {
      case e: Throwable =>
        failedCalls += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** A span around one call into a named engine layer. */
  def layer[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Runs output checks, outside every timed region and a few at a time
    * (each is a handful of small Spark jobs). A check returns whether it
    * held and, if not, why. */
  def runChecks(items: Seq[(String, () => (Boolean, String))]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val done = items.map { case (name, body) =>
        Future {
          val t0 = System.nanoTime()
          val (ok, why) =
            try { val (r, d) = body(); (r, if (r) "" else d) }
            catch { case e: Throwable => (false, s"check threw: $e") }
          (name, ok, why, (System.nanoTime() - t0) / 1e9)
        }
      }.map(Await.result(_, Duration.Inf))
      done.foreach { case c @ (name, ok, why, _) =>
        checkLog += c
        if (!ok) System.err.println(s"[perfbench] check $name FAILED: $why")
      }
    } finally pool.shutdown()
  }
  /** (name, held, why not, seconds) of every check run */
  def checks: Seq[(String, Boolean, String, Double)] = checkLog.toSeq
  def failedChecks: Int = checkLog.count(!_._2)

  /** Old-generation occupancy after a full collection, in MB. Sampled
    * between operations, never inside one. */
  def sampleHeap(): Unit = {
    // a second collection after a pause frees what the first only made
    // unreachable (Spark's cleaner drops blocks of collected references)
    System.gc()
    Thread.sleep(200)
    System.gc()
    import scala.jdk.CollectionConverters._
    // after a full collection the young pools are empty: the heap pools'
    // collection usage is the old generation's live data, whatever the collector
    val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapSamples += used / (1024.0 * 1024.0)
  }
  def peakHeapMb: Double = if (heapSamples.isEmpty) Double.NaN else heapSamples.max

  /** Closed loop: call `step(i)` for i = 0, 1, ... until `phaseSeconds`
    * have elapsed (a step started before the deadline runs to completion;
    * at least `minSteps` run) or a step reports that its inputs ran out. */
  def timedLoop(phaseSeconds: Double, minSteps: Int = 1)(step: Int => Boolean): Int = {
    val deadline = System.nanoTime() + (phaseSeconds * 1e9).toLong
    val from = System.currentTimeMillis()
    var i = 0
    var more = true
    while (more && (i < minSteps || System.nanoTime() < deadline)) { more = step(i); i += 1 }
    timedWindows += ((from, System.currentTimeMillis()))
    i
  }

}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM — Spark's local executors are its threads. */
  def cpuNanos(): Long = os.getProcessCpuTime
}

/** The generator's manifest: its parameters and per-step facts. */
final class Manifest(file: Path) {
  import org.json4s._
  private val json: JValue = org.json4s.jackson.JsonMethods.parse(
    new String(java.nio.file.Files.readAllBytes(file), "UTF-8"))
  def params: Map[String, Any] = (json \ "params").values.asInstanceOf[Map[String, Any]]
  def param(name: String): Double = json \ "params" \ name match {
    case JInt(v) => v.toDouble
    case JLong(v) => v.toDouble
    case JDouble(v) => v
    case JDecimal(v) => v.toDouble
    case other => throw new IllegalArgumentException(s"manifest has no number $name: $other")
  }
  /** `field` as step → value, e.g. the delta rows of each load */
  def perStep[A](field: String)(f: JValue => A): Map[Int, A] = json \ field match {
    case JObject(fs) => fs.map { case (k, v) => k.toInt -> f(v) }.toMap
    case _ => Map.empty
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
  /** The highest whole percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      Some(p -> pct(xs, p))
    }
  }
}

/** A reported value: name, value, unit and how many samples stand behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  /** Renders maps, sequences, strings, numbers, booleans and options. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case b: BigInt => b.toString
    case b: BigDecimal => num(b.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** Files and bytes written into table directories, diffed around a call. */
object DirStats {
  /** Every regular file under `roots` (Hadoop checksum files aside) → size. */
  def snapshot(roots: Seq[Path]): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    roots.filter(java.nio.file.Files.exists(_)).flatMap { r =>
      val s = java.nio.file.Files.walk(r)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.endsWith(".crc"))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toSeq
      finally s.close()
    }.toMap
  }
  def bytes(roots: Seq[Path]): Long = snapshot(roots).values.sum
  /** (files, bytes) present after and not before, with the call's input bytes */
  def diff(before: Map[String, Long], after: Map[String, Long], inputBytes: Long): (Long, Long, Long) = {
    val fresh = after.filter { case (k, _) => !before.contains(k) }
    (fresh.size.toLong, fresh.values.sum, inputBytes)
  }
  def perOp(diffs: Seq[(Long, Long, Long)]): Map[String, Double] =
    if (diffs.isEmpty) Map.empty
    else Map(
      "storage.files_written" -> Stats.median(diffs.map(_._1.toDouble)),
      "storage.bytes_written_per_input_byte" ->
        Stats.median(diffs.map { case (_, w, i) => w.toDouble / math.max(1L, i) }))
}
