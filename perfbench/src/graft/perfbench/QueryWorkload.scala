package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import graft.{Bench, SparkEntry}
import graft.spark.{ExtractJob, PageSource}
import graft.queries.{Oracles, PipelineQueries}

/** `query_mix`: the headline queries of `graft.Bench` over the seeded tables
  * run.py generated, in seed-shuffled complete rounds. The results of the
  * untimed settle round are written for run.py's DuckDB oracle check.
  */
object QueryWorkload extends Main.Workload with AdaptiveSparkPlanHelper {
  import Probe.median

  val Headline: Seq[String] = Seq(
    "q_sauvola", "q_window_stats", "q_wolfjolion", "q_otsu", "q_minhash",
    "q_ngram_jaccard", "q_dedup_exact", "q_ann_bucketed", "q_lsh_bucket",
    "q_golden_join", "q_event_windows", "q_topk", "q_quality_scores",
    "q_extract")

  /** Timed rounds at least, whatever --seconds says. */
  val MinRounds = 3

  /** The pipeline query of the mix. */
  val ExtractQuery = "q_extract"

  /** The extraction metrics of this workload time the job the pipeline
    * queries are built on (`PageSource` pages → `ExtractJob.extract`), at a
    * size where they are steady: `q_extract`'s own 400 docs a run take
    * ~150 ms, and their CPU per doc swings by a third between JVMs. One
    * such job ends the settle round so that the rounds run a compiled
    * extraction path; three more are timed after the rounds.
    */
  val ExtractJobDocs = 16000L
  val ExtractJobs = 3

  private def extractJob(r: Main.Run): Long =
    ExtractJob.extract(PageSource.pages(r.spark, ExtractJobDocs)).agg(count(lit(1))).collect()(0).getLong(0)

  final case class Exec(query: String, round: Int, planMs: Double, execMs: Double,
      cpuS: Double, error: String)

  private def exchanges(plan: SparkPlan): Int = collect(plan) { case e: Exchange => e }.length

  /** One execution: plan (analysis through physical planning) then run. */
  private def exec(r: Main.Run, q: String, round: Int, cpu: Boolean): Exec = {
    if (cpu) r.meter.reset()
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(q)(r.spark, r.tables)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      df.collect()
      val t2 = System.nanoTime()
      Exec(q, round, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        if (cpu) r.meter.settledCpuSec() else 0.0, null)
    } catch {
      case e: Throwable =>
        Exec(q, round, 0.0, (System.nanoTime() - t0) / 1e6, 0.0,
          e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(200))
    }
  }

  /** The tables come from run.py; nothing to generate here. */
  def prepare(r: Main.Run): Double = {
    require(r.tables.nonEmpty, "query_mix needs --tables")
    0.0
  }

  /** Open the tables and run the first query of the list. */
  def firstPass(r: Main.Run, round: Int): Double = {
    val e = exec(r, Headline.head, 0, cpu = false)
    if (e.error != null) r.fail(s"${e.query} set-up round $round: ${e.error}")
    r.tasks.drain()
    (e.planMs + e.execMs) / 1e3
  }

  /** The settle round: every query once, its result written for the
    * oracle check (JIT, codegen and the schema cache warm up on the way).
    * Zero-row results are listed as unverified by run.py.
    */
  private def settle(r: Main.Run): Map[String, Long] = r.phase("settle") {
    val results = r.out.resolve("results")
    Probe.deleteTree(results)
    val rows = mutable.LinkedHashMap.empty[String, Long]
    Headline.foreach { q =>
      r.attempted += 1
      try {
        SparkEntry.queries(q)(r.spark, r.tables).write.parquet(results.resolve(q).toString)
        rows(q) = r.spark.read.parquet(results.resolve(q).toString).count()
      } catch {
        case e: Throwable => r.fail(s"$q verify: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    extractJob(r)
    r.tasks.drain()
    val oracles = Oracles.all ++ PipelineQueries.goldenOracles("golden")
    Probe.write(r.out.resolve("oracle_sql.json"), Json(Headline.flatMap(q => oracles.get(q).map(q -> _)).toMap))
    r.record("result_rows") = rows
    rows.toMap
  }

  def measure(r: Main.Run): Unit = {
    val spark = r.spark
    val rows = settle(r)
    val results = r.out.resolve("results")
    val rng = new scala.util.Random(r.seed)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val shufflePerRound = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var round = 0
    while (round < MinRounds || (System.nanoTime() - t0) / 1e9 < r.seconds) {
      round += 1
      r.tasks.passId = s"round-$round"
      rng.shuffle(Headline).foreach(q => execs += exec(r, q, round, cpu = false))
      shufflePerRound += r.tasks.drain().map(_.shuffleWriteBytes).sum / (1024.0 * 1024.0)
    }
    r.attempted += execs.length
    execs.filter(_.error != null).foreach(e => r.fail(s"${e.query}: ${e.error}"))
    val ok = execs.filter(_.error == null)
    val lat = ok.map(e => e.planMs + e.execMs).toSeq
    val (tailP, tailMs) = Probe.tail(lat)
    r.metrics("query_p50_ms") = median(lat)
    r.metrics("query_tail_ms") = tailMs
    r.record("latency") = Map("unit" -> "one query (plan + execute)", "samples" -> lat.length,
      "tail_percentile" -> tailP, "rounds" -> round)
    r.record("executions") = execs.map(e => Map("query" -> e.query, "round" -> e.round,
      "plan_ms" -> e.planMs, "exec_ms" -> e.execMs, "cpu_s" -> e.cpuS, "error" -> e.error)).toSeq

    val jobs = r.phase("extract_jobs")((1 to ExtractJobs).map { _ =>
      var docs = 0L
      val rec = Bench.recordPass(r.meter) { docs = extractJob(r) }
      r.tasks.drain()
      r.attempted += 1
      if (docs != ExtractJobDocs) r.fail(s"extraction job returned $docs of $ExtractJobDocs docs")
      rec
    })
    r.metrics("extract_docs_per_s") = median(jobs.map(ExtractJobDocs / _.wallS))
    r.metrics("extract_cpu_us_per_doc") = median(jobs.map(_.cpuS * 1e6 / ExtractJobDocs))
    r.record("extract_jobs") = Map("docs" -> ExtractJobDocs, "passes" -> jobs.map(j => Json.Raw(j.json)))
    // bytes of q_extract's result over the html bytes it extracted
    val extractDocs = rows.getOrElse(ExtractQuery, 0L)
    val htmlBytes = PageSource.pages(spark, extractDocs).agg(sum(length(col("html")))).collect()(0).getLong(0)
    r.metrics("out_bytes_per_html_byte") =
      Probe.treeBytes(results.resolve(ExtractQuery)).toDouble / htmlBytes
    r.record("extract_query") = Map("query" -> ExtractQuery, "docs" -> extractDocs,
      "html_bytes" -> htmlBytes)

    if (r.trace) {
      val L = r.layers
      Headline.foreach { q =>
        val mine = ok.filter(_.query == q)
        L(s"queries.plan_ms.$q") = median(mine.map(_.planMs).toSeq)
        L(s"queries.exec_ms.$q") = median(mine.map(_.execMs).toSeq)
      }
      L("queries.shuffle_write_mb") = median(shufflePerRound.toSeq)
      L("queries.exchanges") = Headline.map { q =>
        val df = SparkEntry.queries(q)(spark, r.tables)
        df.collect()
        exchanges(df.queryExecution.executedPlan)
      }.sum.toDouble
    }
  }
}
