package graft.ops

/** Phase timer (guide §1 "measure first"): wall-time accumulation per
  * engine phase, always on. Every call site is phase-level, so the cost is
  * one `nanoTime` pair plus one map update per phase.
  */
object Prof {
  private val acc = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  @inline def time[A](tag: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val d = System.nanoTime() - t0
      acc.compute(tag, (_, v) =>
        if (v == null) Array(d, 1L) else { v(0) += d; v(1) += 1; v })
    }
  }

  def reset(): Unit = acc.clear()

  def report(): String = {
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.sortBy(-_._2(0)).map { case (tag, v) =>
      f"   ${v(0) / 1e9}%7.2fs  n=${v(1)}%-5d $tag"
    }.mkString("\n")
  }
}
