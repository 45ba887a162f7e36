package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** An ordered JSON object; `Json.render` keeps the field order. */
final case class Obj(fields: Seq[(String, Any)])
object Obj { def apply(kv: (String, Any)*)(implicit d: DummyImplicit): Obj = new Obj(kv) }

object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def render(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
  }
}

object Stats {
  /** Linear interpolation between order statistics (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Seeded, splittable randomness: each (seed, stream) pair gets its own
  * generator, so a file, partition or request can be regenerated alone.
  */
object Rng {
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + (stream + 1) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def apply(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(seed, stream))
}

object Files2 {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
  /** Regular files under `p` whose name ends with `suffix`. */
  def listFiles(p: Path, suffix: String): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)).toList
      finally s.close()
    }
}

/** Host cleanliness: steal jiffies, load average and foreign JVMs. */
object Host {
  def stealJiffies(): Long = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) -1L
    else {
      val cpu = Files.readAllLines(f).asScala.find(_.startsWith("cpu "))
      cpu.map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
    }
  }

  def loadAvg1(): Double = {
    val f = Paths.get("/proc/loadavg")
    if (!Files.exists(f)) -1.0
    else Files.readString(f).trim.split("\\s+")(0).toDouble
  }

  /** JVMs on the host other than this one. */
  def foreignJvms(): Int = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self && p.info().command().orElse("").endsWith("/java")
    }
  }

  def stamp(): Obj = Obj(
    "steal_jiffies" -> stealJiffies(),
    "load_avg_1m" -> loadAvg1(),
    "foreign_jvms" -> foreignJvms())
}

/** Heap after each GC, from the JVM's GC notifications, and GC time. */
object Heap {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

  def arm(): Unit = synchronized { peak = 0L; armed = true }

  /** Ends the window. A window with no GC reports the heap in use at
    * its end instead, so the figure is never 0.
    */
  def disarmPeakMb(): Double = synchronized {
    armed = false
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1048576.0
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}
