package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import graft.Bench

/** JVM side of the benchmark. `perfbench/run.py` builds the program, makes
  * the query tables, launches this main once per run and turns what it
  * writes into the headline.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out DIR
  *             --work DIR --launch-ms EPOCH_MS [--tables DIR]
  * Writes DIR/jvm.json (and DIR/spans.jsonl when tracing).
  */
object Main {

  val Workloads = Seq("extract_mixed", "extract_legacy", "query_mix")

  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 3

  /** One workload: inputs, the set-up it repeats, and the measurement. */
  trait Workload {
    /** Make or find the inputs; returns the seconds spent generating. */
    def prepare(r: Run): Double
    /** Open the inputs on the current session and run the first pass;
      * returns its seconds (the part of set-up after the session).
      */
    def firstPass(r: Run, round: Int): Double
    /** Settle the JIT, then timed passes and (with --trace 1) the layer
      * split.
      */
    def measure(r: Run): Unit
  }

  /** Everything one run knows and accumulates. */
  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val trace: Boolean, val out: Path, val work: Path, val tables: String) {
    val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val meter = new Bench.CpuMeter
    val tasks = new Probe.TaskLog
    private var session: SparkSession = _
    def spark: SparkSession = session

    /** Start a session with the run's listeners; returns seconds taken. */
    def startSession(): Double = {
      val t0 = System.nanoTime()
      session = Bench.session(cpus.toString)
      session.sparkContext.setLogLevel("WARN")
      session.sparkContext.addSparkListener(meter)
      session.sparkContext.addSparkListener(tasks)
      (System.nanoTime() - t0) / 1e9
    }

    def stopSession(): Unit = if (session != null) { session.stop(); session = null }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val record = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    /** Wall seconds of each phase of the run, for the record. */
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }

    def fail(what: String, n: Long = 1L): Unit = {
      failed += n
      if (failures.length < 50) failures += what
    }

    def env: Map[String, Any] = {
      val rt = ManagementFactory.getRuntimeMXBean
      Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_cpus" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
        "jvm_args" -> rt.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> org.apache.spark.SPARK_VERSION,
        "spark_local_dirs" -> sys.env.getOrElse("SPARK_LOCAL_DIRS", ""),
        "heap_setting" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
        "source_id" -> sys.env.getOrElse("PERFBENCH_SOURCE_ID", "unknown"))
    }

    def finish(): Unit = {
      record("env") = env
      record("attempted") = attempted
      record("failed") = failed
      record("failures") = failures.toSeq
      record("metrics") = metrics
      record("layers") = layers
      record("phases") = phases
      Probe.write(out.resolve("jvm.json"), Json(record))
      if (trace)
        Probe.write(out.resolve("spans.jsonl"), (spans ++ tasks.spanLines()).mkString("", "\n", "\n"))
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val launchMs = arg("launch-ms").toLong
    val r = new Run(workload, arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1",
      Paths.get(arg("out")).toAbsolutePath, Paths.get(arg("work")).toAbsolutePath,
      kv.getOrElse("tables", ""))
    val w: Workload = if (workload == "query_mix") QueryWorkload else ExtractWorkload
    try {
      // set-up round 1 is the cold one: JVM launch → session, then input
      // open and the first pass once the inputs exist (generation is
      // prepare_s); rounds 2..n: a fresh session in the warm JVM, the same
      // open and first pass
      r.startSession()
      val coldSession = Probe.sinceMs(launchMs)
      val prepareS = r.phase("prepare")(w.prepare(r))
      val rounds = mutable.ArrayBuffer(
        Map("session_s" -> coldSession, "open_and_first_pass_s" -> w.firstPass(r, 1)))
      Probe.OldGen.checkpoint()
      r.phase("measure")(w.measure(r))
      r.metrics("heap_live_peak_mb") = { Probe.OldGen.checkpoint(); Probe.OldGen.peakMb }
      while (rounds.length < SetupRounds) r.phase("setup_rounds") {
        r.stopSession()
        val s = r.startSession()
        rounds += Map("session_s" -> s, "open_and_first_pass_s" -> w.firstPass(r, rounds.length + 1))
      }
      val totals = rounds.map(m => m("session_s") + m("open_and_first_pass_s")).toSeq
      r.metrics("setup_s") = Probe.median(totals)
      r.record("heap_checkpoints_mb") = Probe.OldGen.readings.toSeq
      r.record("setup") = Map("rounds" -> rounds.toSeq, "round_s" -> totals,
        "cold_s" -> totals.head, "prepare_s" -> prepareS)
      r.finish()
    } finally r.stopSession()
  }
}
