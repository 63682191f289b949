package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one JVM, one client thread.
  *
  * {{{
  * Main --workload <elt_incremental|corpus_index> --seed <n>
  *      --seconds <s> --trace <0|1> --inputs <generated inputs>
  *      --gen-seconds <s> --work <scratch dir> --out <artifact dir>
  * }}}
  *
  * The inputs come from the seeded generator (perfbench/gen.py), which
  * also reports how long it took (`--gen-seconds`, part of set-up).
  *
  * Prints one line per metric, then the result as one JSON line, and
  * writes the full artifact (samples, host context, layer table, checks)
  * to `<out>/<workload>-seed<seed>-trace<t>.json`. */
object Main {
  val Workloads = Seq("elt_incremental", "corpus_index")
  /** share of the measured seconds given to the write phase */
  val WriteShare = 0.7

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val inputs = Paths.get(opts("inputs")).toAbsolutePath
    val genS = opts("gen-seconds").toDouble
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work); Files.createDirectories(out)

    val loadStart = Host.loadavg()
    val cpuStart = Host.cpuTicks()
    val calibMs = Host.calibrate()
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Host.session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, traced)
    val ctx = new Ctx(spark, tracer, seed, inputs)
    val wl: Workload = workload match {
      case "elt_incremental" => new EltIncremental(ctx)
      case "corpus_index" => new CorpusIndex(ctx)
    }

    val tFix = System.nanoTime()
    wl.fixture(work.resolve("fixture"))
    val fixtureS = (System.nanoTime() - tFix) / 1e9
    val setupS = sessionS + genS + fixtureS
    ctx.sampleHeap()

    // the write phase gets WriteShare of the measured seconds, reads the rest
    tracer.run = 1
    val writeSteps = ctx.timedLoop(seconds * WriteShare) { i =>
      val c0 = Ctx.cpuNanos()
      val more = wl.writeStep(i)
      if (more) ctx.add("write_step.cpu", (Ctx.cpuNanos() - c0) / 1e9)
      more
    }
    tracer.run = 0
    val tPrep = System.nanoTime()
    wl.prepareReads()
    val prepS = (System.nanoTime() - tPrep) / 1e9
    tracer.run = 2
    val readSteps = ctx.timedLoop(seconds * (1 - WriteShare), wl.minReadSteps)(wl.readStep)
    tracer.run = 3
    ctx.sampleHeap()
    tracer.drain()
    val tCheck = System.nanoTime()
    ctx.runChecks(wl.checks)
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val loadEnd = Host.loadavg()
    val cpuEnd = Host.cpuTicks()
    val stealShare = (cpuEnd._2 - cpuStart._2).toDouble / math.max(1L, cpuEnd._1 - cpuStart._1)

    val heap = Metric("peak_heap_mb", ctx.peakHeapMb, "MB", 2)
    val setup = Metric("setup_s", setupS, "s")
    // the gated figures: wall time swings with the host's CPU steal, CPU
    // time far less (see README), so steps are gated on the CPU they cost
    val generic = Seq(setup,
      Workload.p50(ctx, "write_step.cpu", "write_cpu_s"),
      Workload.p50(ctx, wl.readKind + ".cpu", "read_cpu_s"),
      heap)
    val wall = Seq(
      Workload.p50(ctx, wl.writeKind, "write_p50_s"),
      Workload.p50(ctx, wl.readKind, "read_p50_s"),
      wl.writeRate.copy(name = "write_rate_per_s", unit = "1/s"),
      wl.readRate.copy(name = "read_rate_per_s", unit = "1/s"))
    // a check is attempted like a call, so failed never exceeds attempted
    val attempted = ctx.attempted + ctx.checks.size
    val failed = ctx.failedCalls + ctx.failedChecks
    val named = (generic ++ wall ++ wl.named) :+
      Metric("failed_share", failed.toDouble / attempted, "ratio", attempted)

    val layer = if (traced) Some(LayerReport(ctx, wl)) else None
    val artifactPath = out.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json")
    val untraced = out.resolve(s"$workload-seed$seed-trace0.json")
    val overhead: Map[String, Any] =
      if (!traced) Map.empty
      else ArtifactReader.metrics(untraced).map { base =>
        (generic ++ wall).collect { case m if base.contains(m.name) =>
          m.name -> Map("traced" -> m.value, "untraced" -> base(m.name),
            "share" -> (m.value - base(m.name)) / base(m.name))
        }.toMap
      }.getOrElse(Map("note" -> s"no untraced artifact for this seed at $untraced"))

    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "held_out_seed" -> Host.HeldOutSeed,
      "load_shape" -> Map("loop" -> "closed", "client_threads" -> 1, "master" -> s"local[$cores]"),
      "host" -> Map("nproc" -> cores, "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "steal_share" -> stealShare,
        "calib_ms" -> calibMs, "git_commit" -> Host.gitCommit(),
        "spark_conf" -> Host.sessionConf(spark)),
      "generator" -> wl.params,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS, "fixture_s" -> fixtureS,
        "setup_s" -> setupS),
      "prepare_reads_s" -> prepS, "checks_s" -> checkS, "write_share" -> WriteShare,
      "write_steps" -> writeSteps, "read_steps" -> readSteps,
      "attempted" -> attempted, "failed_calls" -> ctx.failedCalls, "failed_checks" -> ctx.failedChecks,
      "metrics" -> named.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n)).toMap,
      "generic_metrics" -> (generic ++ wall).map(m => m.name -> m.value).toMap,
      "samples" -> Seq("load", "refresh", "query", "query_nav", "query_scan", "append", "search")
        .filter(k => ctx.values(k).nonEmpty).map { k =>
          val xs = ctx.values(k)
          k -> Map("n" -> xs.size, "p50" -> Stats.median(xs),
            "tail" -> Stats.tail(xs).map { case (p, v) => Map("pct" -> p, "value" -> v) },
            "values" -> xs)
        }.toMap,
      "checks" -> ctx.checks.map { case (n, ok, why, secs) =>
        Map("name" -> n, "ok" -> ok, "detail" -> why, "seconds" -> secs) },
      "layers" -> layer.map(_.artifact),
      "tracing_overhead" -> overhead)
    Files.write(artifactPath, Json.render(artifact).getBytes("UTF-8"))

    spark.stop()

    named.foreach(m => println(f"[perfbench] $workload ${m.name}%-22s ${Json.num(m.value)}%s ${m.unit} (n=${m.n})"))
    layer.foreach(_.table.foreach(l => println(s"[perfbench] layer $l")))
    println(s"[perfbench] artifact $artifactPath")
    val metrics: Seq[Metric] = layer match {
      case Some(l) => l.metrics
      case None => generic
    }
    println(Json.render(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map(m =>
        m.name -> mutable.LinkedHashMap[String, Any]("value" -> m.value, "unit" -> m.unit)): _*))))
  }
}

object ArtifactReader {
  /** The generic end-to-end values of an earlier artifact, if one exists. */
  def metrics(p: Path): Option[Map[String, Double]] =
    if (!Files.exists(p)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8")) \ "generic_metrics" match {
        case JObject(fs) => Some(fs.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
          case (k, JLong(v)) => k -> v.toDouble
        }.toMap)
        case _ => None
      }
    }
}

/** Host context every artifact records, and the session every run uses. */
object Host {
  /** The seed kept out of tuning, for confirming a claimed gain. */
  val HeldOutSeed = 7919L

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  /** The single-thread calibration loop graft.Bench times. */
  def calibrate(): Double = {
    def burn(): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 33; i += 1 }
      x
    }
    burn()
    val t0 = System.nanoTime()
    val sink = burn()
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == 42) println("")
    ms
  }

  /** (all, steal) CPU ticks since boot; their deltas over a run give the
    * share of CPU time the hypervisor took away (0 where unavailable). */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val t = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (t.sum, if (t.length > 7) t(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  def gitCommit(): String =
    sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")

  /** graft.Bench's session settings, with scratch space inside `work`. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", (256 * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sessionConf(s: SparkSession): Map[String, String] =
    Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.files.openCostInBytes",
      "spark.sql.join.preferSortMergeJoin", "spark.sql.adaptive.enabled")
      .map(k => k -> s.conf.getOption(k).getOrElse("(default)")).toMap
}
