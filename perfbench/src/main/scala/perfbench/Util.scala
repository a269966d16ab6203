package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Io {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toList
    all.reverse.foreach(Files.deleteIfExists)
  }

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Heap the program still holds at the end of a measured phase, apart
  * from the heap size the JVM was given. Spark drops cached, broadcast and
  * shuffle blocks only after a collection has found them unreachable, so
  * this collects until the heap in use stops shrinking.
  */
object Heap {
  def liveMb(): Double = {
    def collect(): Double = {
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(200) // lets Spark's cleaner act on what the collection found
      used
    }
    var last = collect()
    var next = collect()
    var n = 2
    while (next < last - 1.0 && n < 8) { last = next; next = collect(); n += 1 }
    next
  }
}

/** Seconds taken by each of `n` repetitions of a set-up. */
object Setup {
  def timed(n: Int)(body: => Unit): Seq[Double] =
    (0 until n).map(i => Log.phase(s"set-up $i") {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
}

/** Progress lines on stderr, so a slow run shows where its time went. */
object Log {
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
