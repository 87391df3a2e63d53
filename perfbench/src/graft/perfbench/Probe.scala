package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Measurement plumbing shared by the workloads: a task log fed by the
  * Spark listener bus, an old-generation occupancy probe, order statistics
  * and a small JSON writer for the run record.
  */
object Probe {

  /** One finished task, as the listener bus reports it. */
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long) {
    def durationMs: Long = finishMs - launchMs
  }

  /** Collects every task end (and, when spans are on, stage spans) so each
    * pass can be attributed its own tasks: [[drain]] after the pass.
    */
  final class TaskLog extends SparkListener {
    private val tasks = new ConcurrentLinkedQueue[Task]
    private val stageSpans = new ConcurrentLinkedQueue[String]
    @volatile var spans = false
    @volatile var passId = ""

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten)
        tasks.add(t)
        if (spans) stageSpans.add(Json(Map("name" -> "task", "pass" -> passId,
          "parent" -> s"stage-${e.stageId}", "start_ms" -> t.launchMs, "end_ms" -> t.finishMs)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (spans) {
        val i = e.stageInfo
        stageSpans.add(Json(Map("name" -> s"stage-${i.stageId}", "pass" -> passId,
          "parent" -> passId, "start_ms" -> i.submissionTime.getOrElse(-1L),
          "end_ms" -> i.completionTime.getOrElse(-1L))))
      }

    /** Tasks finished since the last drain. Task-end events arrive on the
      * asynchronous listener bus after the action returns, so wait until
      * the count stops moving.
      */
    def drain(): Vector[Task] = {
      var prev = -1
      var cur = tasks.size
      var i = 0
      while (i < 40 && cur != prev) {
        Thread.sleep(25)
        prev = cur
        cur = tasks.size
        i += 1
      }
      val b = Vector.newBuilder[Task]
      var t = tasks.poll()
      while (t != null) { b += t; t = tasks.poll() }
      b.result()
    }

    def spanLines(): Vector[String] = stageSpans.asScala.toVector
  }

  /** Peak old-generation occupancy right after the full collections the run
    * forces at each [[OldGen.checkpoint]]: the live data the run retains
    * there. Collections anything else starts (the JVM, a library's
    * `System.gc()`) are left out; what they find depends on timing.
    */
  object OldGen {
    private lazy val pool = ManagementFactory.getMemoryPoolMXBeans.asScala.find { p =>
      val n = p.getName
      n.contains("Old Gen") || n.contains("Tenured") || n == "ZHeap"
    }
    private var peak = 0L
    /** What each checkpoint read, in MB per collection, for the record. */
    val readings = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]

    private def collect(): Long = {
      System.gc()
      pool.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).getOrElse(0L)
    }

    /** Force full collections until the old generation stops shrinking.
      * Right after a job one collection is not enough: it can read about
      * twice the live set, which a second one 200 ms later no longer finds
      * (data background threads, such as Spark's cleaner, release only
      * after the first), so a single reading depends on timing.
      */
    def checkpoint(): Unit = {
      val seen = scala.collection.mutable.ArrayBuffer(collect())
      while (seen.length < 6 && (seen.length < 2 || seen(seen.length - 2) - seen.last > (1L << 20))) {
        Thread.sleep(200)
        seen += collect()
      }
      readings += seen.map(_ / (1024.0 * 1024.0)).toSeq
      peak = math.max(peak, seen.last)
    }

    def peakMb: Double = peak / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Linear-interpolated percentile (the numpy default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The tail rule: the highest whole percentile that still has at least
    * ten samples beyond it, and never below the median. Returns
    * (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = math.max(50.0, math.floor(100.0 * (1.0 - 10.0 / xs.length)))
    (p, percentile(xs, p))
  }

  /** Seconds since an epoch-millisecond instant. */
  def sinceMs(epochMs: Long): Double = (System.currentTimeMillis() - epochMs) / 1000.0

  def write(path: Path, s: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, s.getBytes(UTF_8))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }
}

/** Compact JSON rendering of maps, sequences and scalars. Doubles keep all
  * their digits.
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case Some(x) => apply(x)
    case None => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case r: Raw => r.json
    case other => quote(other.toString)
  }

  /** Pre-rendered JSON, embedded verbatim. */
  final case class Raw(json: String)

  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
