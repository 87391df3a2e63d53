package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import graft.Bench
import graft.core.PageRow
import graft.spark.ExtractJob
import graft.table.SnapshotTable

/** The extraction workloads. Set-up, settle and timed passes run the
  * aggregate job `Bench.extractionRunFiles` runs. The verify pass is the
  * production sink: the full output committed through `SnapshotTable.append`
  * into a fresh table and the `doneUrls` resume check, then the table read
  * back and checked against the truth.
  */
object ExtractWorkload extends Main.Workload {
  import Probe.median

  final case class Pass(rec: Bench.PassRecord, docs: Long, htmlBytes: Long,
      tasks: Vector[Probe.Task], appendS: Double = 0.0, resumeS: Double = 0.0,
      files: Long = 0L, bytesWritten: Long = 0L) {
    def json: Map[String, Any] = Map("pass" -> Json.Raw(rec.json), "docs" -> docs,
      "html_bytes" -> htmlBytes, "tasks" -> tasks.length, "append_s" -> appendS,
      "resume_check_s" -> resumeS, "files" -> files, "bytes_written" -> bytesWritten)
  }

  /** Seconds of untimed aggregate passes before timing: long enough for
    * C2 to finish compiling the extraction path while all cores are busy.
    */
  val SettleSeconds = 8.0

  /** Buckets of the committed table. At these corpus sizes the default 16
    * would write files of ~30 KB whose per-file costs swamp the encode and
    * write work the pass is there to time.
    */
  val CommitBuckets = 4

  private var corpus: Inputs.Corpus = _
  private var passNo = 0

  def prepare(r: Main.Run): Double = {
    val (c, genS) = Inputs.ensure(r)
    corpus = c
    Probe.deleteTree(tables(r))
    r.record("input") = Map("dir" -> c.dir.getFileName.toString, "docs" -> c.docs,
      "html_bytes" -> c.htmlBytes)
    genS
  }

  private def tables(r: Main.Run): Path = r.out.resolve("tables")

  private def pages(r: Main.Run) = {
    val spark = r.spark
    import spark.implicits._
    spark.read.parquet(corpus.pages).as[PageRow]
  }

  /** One commit: append into a fresh table, then the resume check. */
  private def commitPass(r: Main.Run, id: String): Pass = {
    val dir = tables(r).resolve(id)
    var appendS = 0.0
    var resumeS = 0.0
    var snap: SnapshotTable.Snapshot = null
    var remaining = -1L
    val rec = Bench.recordPass(r.meter) {
      val t0 = System.nanoTime()
      snap = SnapshotTable.append(ExtractJob.extract(pages(r)).toDF(), dir.toString, id,
        buckets = CommitBuckets)
      val t1 = System.nanoTime()
      remaining = pages(r).select("url")
        .join(SnapshotTable.doneUrls(r.spark, dir.toString).get, Seq("url"), "left_anti").count()
      appendS = (t1 - t0) / 1e9
      resumeS = (System.nanoTime() - t1) / 1e9
    }
    r.attempted += 1
    if (remaining != 0L || snap.rows != corpus.docs)
      r.fail(s"$id: committed ${snap.rows} of ${corpus.docs} docs, $remaining urls left to resume")
    val bytes = snap.files.map(f => Files.size(java.nio.file.Paths.get(f))).sum
    Pass(rec, snap.rows, corpus.htmlBytes, r.tasks.drain(), appendS, resumeS,
      snap.files.length.toLong, bytes)
  }

  /** One timed pass of the aggregate job, with its contention record. */
  private def onePass(r: Main.Run): Pass = {
    passNo += 1
    r.tasks.passId = s"pass-$passNo"
    var docs = 0L
    var bytes = 0L
    val rec = Bench.recordPass(r.meter) {
      val (_, d, b) = Bench.extractionRunFiles(r.spark, Seq(corpus.pages))
      docs = d; bytes = b
    }
    Pass(rec, docs, bytes, r.tasks.drain())
  }

  /** Input open (split sizing) and the first aggregate pass. */
  def firstPass(r: Main.Run, round: Int): Double = {
    val t0 = System.nanoTime()
    Bench.tuneSplitFor(r.spark, corpus.pages)
    onePass(r)
    (System.nanoTime() - t0) / 1e9
  }

  /** The untimed verify pass: the full output committed, the committed
    * table read back and checked against the truth.
    */
  private def verify(r: Main.Run): DataFrame = {
    val spark = r.spark
    val id = "verify"
    r.tasks.passId = id
    val commit = commitPass(r, id)
    val out = SnapshotTable.read(spark, tables(r).resolve(id).toString).get
    val truth = Check.truth(spark.read.parquet(corpus.truth))
    val rows = Check.output(out)
    val check = Check(rows, truth)
    r.attempted += check.attempted
    if (check.failed > 0) r.fail(s"$id: ${check.failed} docs wrong or missing " +
      check.examples.mkString("(", ", ", ")"), check.failed)
    val selfTest = Check.selfTest(rows, truth)
    r.attempted += 2
    selfTest.foreach(r.fail(_))
    val textBytes = rows.iterator.map(_._2.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    r.record("verify") = check.json ++ Map("self_test_failures" -> selfTest,
      "text_bytes" -> textBytes, "commit" -> commit.json)
    r.metrics("out_bytes_per_html_byte") = commit.bytesWritten.toDouble / corpus.htmlBytes
    out
  }

  /** Untimed aggregate passes for [[SettleSeconds]]. */
  private def settle(r: Main.Run): Unit = r.phase("settle") {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || (System.nanoTime() - t0) / 1e9 < SettleSeconds) { onePass(r); n += 1 }
    r.record("settle_passes") = n
    Probe.OldGen.checkpoint()
  }

  def measure(r: Main.Run): Unit = {
    settle(r)
    val untraced = ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    val budget = if (r.trace) r.seconds / 2 else r.seconds
    r.phase("timed") {
      while (untraced.length < 3 || (System.nanoTime() - t0) / 1e9 < budget) untraced += onePass(r)
    }
    r.record("passes") = untraced.map(_.json).toSeq
    r.attempted += untraced.length
    val cpuPerDoc = median(untraced.map(p => p.rec.cpuS * 1e6 / p.docs).toSeq)
    r.metrics("extract_docs_per_s") = median(untraced.map(p => p.docs / p.rec.wallS).toSeq)
    r.metrics("extract_cpu_us_per_doc") = cpuPerDoc
    // latency samples: the tasks of each pass's extraction stage (the one
    // with the most tasks; the others are the schema read and the final
    // aggregate)
    val taskMs = untraced.flatMap { p =>
      val stage = p.tasks.groupBy(_.stage).maxBy(_._2.length)._1
      p.tasks.filter(_.stage == stage).map(_.durationMs.toDouble)
    }.toSeq
    val (tailP, tailMs) = Probe.tail(taskMs)
    r.metrics("query_p50_ms") = median(taskMs)
    r.metrics("query_tail_ms") = tailMs
    r.record("latency") = Map("unit" -> "task of an extraction pass", "samples" -> taskMs.length,
      "tail_percentile" -> tailP, "passes" -> untraced.length)
    r.record("extract_gb_per_s") = median(untraced.map(p => p.htmlBytes / p.rec.wallS / 1e9).toSeq)
    val verifyOut = r.phase("verify")(verify(r))

    // the replay must equal Extract.apply on the golden corpora
    val golden = r.phase("golden_replay")(Replay.goldenMismatches())
    r.attempted += 500
    if (golden.nonEmpty) r.fail(s"replay differs from Extract.apply on golden ${golden.take(3)}", golden.length)

    if (r.trace) r.phase("traced") {
      val digest = Check.digest(verifyOut)
      traced(r, corpus, untraced.toVector, digest, cpuPerDoc)
    }
    // checked and recorded: repeated runs should not fill the disk
    Probe.deleteTree(tables(r))
  }

  /** The traced half of a `--trace 1` run: per-layer replay passes, scan and
    * row probes, the single-thread baseline and the sink split.
    */
  private def traced(r: Main.Run, corpus: Inputs.Corpus, untraced: Vector[Pass],
      digest: String, cpuPerDoc: Double): Unit = {
    val spark = r.spark
    import spark.implicits._
    val sc = spark.sparkContext
    val slots = new Replay.SlotsAcc
    sc.register(slots, "perfbench.slots")
    val spanAcc = new CollectionAccumulator[String]
    sc.register(spanAcc, "perfbench.spans")
    r.tasks.spans = true
    val seedMix = (r.seed * 0x9e3779b97f4a7c15L >>> 33).toInt
    def replayed(passId: String, keepSpans: Boolean) =
      spark.read.parquet(corpus.pages).select(col("url"), col("html")).as[(String, Array[Byte])]
        .mapPartitions { rows =>
          val c = new Array[Long](Replay.Slots)
          val sp = ArrayBuffer.empty[String]
          val part = s"$passId/task-${TaskContext.getPartitionId()}"
          var sampled = 0
          val out = rows.map { case (url, html) =>
            val keep = keepSpans && sampled < 8 && ((url.hashCode ^ seedMix) & 127) == 0
            if (keep) sampled += 1
            Replay(url, html, c, if (keep) sp else null, part)
          }
          new Iterator[graft.core.ExtractedDoc] {
            private var flushed = false
            def hasNext: Boolean = {
              val h = out.hasNext
              if (!h && !flushed) {
                flushed = true
                slots.add(c)
                sp.foreach(spanAcc.add)
              }
              h
            }
            def next(): graft.core.ExtractedDoc = out.next()
          }
        }

    // traced passes: the same aggregate as the measured pass, over the replay
    var n = 0
    val perPass = ArrayBuffer.empty[(Bench.PassRecord, Array[Long])]
    val t0 = System.nanoTime()
    while (perPass.length < 2 || (System.nanoTime() - t0) / 1e9 < r.seconds / 2) {
      n += 1
      val id = s"traced-$n"
      r.tasks.passId = id
      slots.reset()
      val pStart = System.currentTimeMillis()
      val rec = Bench.recordPass(r.meter) {
        replayed(id, keepSpans = true)
          .agg(count(lit(1)), sum($"stats.htmlBytes"), sum(octet_length($"extracted_text")))
          .collect()
      }
      r.tasks.drain()
      r.spans += Json(Map("name" -> id, "pass" -> id, "parent" -> "run",
        "start_ms" -> pStart, "end_ms" -> System.currentTimeMillis()))
      perPass += ((rec, slots.value.clone()))
    }
    r.tasks.spans = false
    r.spans ++= spanAcc.value.toArray(new Array[String](0))
    r.attempted += 1
    val tracedDigest = Check.digest(replayed("digest", keepSpans = false).toDF())
    if (tracedDigest != digest) r.fail(s"traced digest $tracedDigest != untraced $digest")

    def slotMed(i: Int): Double = median(perPass.map(_._2(i).toDouble).toSeq)
    def sec(i: Int): Double = slotMed(i) / 1e9
    val L = r.layers
    val docs = slotMed(Replay.Docs)
    L("html.prescan_cpu_s") = sec(Replay.Prescan)
    L("html.byte_tokenize_cpu_s") = sec(Replay.ByteTok)
    L("html.decode_cpu_s") = sec(Replay.DecodeNs)
    L("html.string_tokenize_cpu_s") = sec(Replay.StringTok)
    L("html.blocks_per_doc") = slotMed(Replay.Blocks) / docs
    L("html.fallback_docs.non_utf8") = slotMed(Replay.FbNonUtf8)
    L("html.fallback_docs.invalid_utf8") = slotMed(Replay.FbInvalidUtf8)
    L("html.fallback_docs.over_cap") = slotMed(Replay.FbOverCap)
    L("html.prescan_wasted_ratio") =
      if (slotMed(Replay.PrescanBytes) == 0) 0.0
      else slotMed(Replay.WastedBytes) / slotMed(Replay.PrescanBytes)
    L("detect.cpu_s") = sec(Replay.Detect)
    L("classify.cpu_s") = sec(Replay.Classify)
    L("clean.cpu_s") = sec(Replay.Clean)
    L("boundary.cpu_s") = sec(Replay.BoundaryNs)
    L("pipeline.assemble_cpu_s") = sec(Replay.Assemble)
    L("pipeline.kept_block_ratio") = slotMed(Replay.Kept) / math.max(1.0, slotMed(Replay.Blocks))
    L("pipeline.quarantined_docs.empty") = slotMed(Replay.QEmpty)
    L("pipeline.quarantined_docs.garbage") = slotMed(Replay.QGarbage)
    L("pipeline.quarantined_docs.no_blocks") = slotMed(Replay.QNoBlocks)

    // single-thread Extract.apply on this thread: the one-thread baseline
    val sample = spark.read.parquet(corpus.pages).as[PageRow].limit(3000).collect()
    val oneThread = (0 until 3).map { _ =>
      val t = System.nanoTime()
      sample.foreach(p => graft.pipeline.Extract(p))
      (System.nanoTime() - t) / 1e3 / sample.length
    }
    L("pipeline.extract_us_per_doc_1t") = oneThread.min
    val sampleMismatch = Replay.mismatches(sample)
    r.attempted += sample.length
    if (sampleMismatch.nonEmpty)
      r.fail(s"replay differs from Extract.apply on ${sampleMismatch.take(3)}", sampleMismatch.length)

    // scan-only and deserialize-only probe jobs
    def probeCpu(body: => Unit): Double = {
      val cpus = (0 until 3).map(_ => Bench.recordPass(r.meter)(body).cpuS)
      r.tasks.drain()
      median(cpus)
    }
    val scan = probeCpu(spark.read.parquet(corpus.pages).agg(sum(length($"html"))).collect())
    val row = probeCpu(spark.read.parquet(corpus.pages).select($"url", $"html")
      .as[(String, Array[Byte])].mapPartitions { it =>
        var s = 0L
        it.foreach { case (u, h) => s += u.length + (if (h == null) 0 else h.length) }
        Iterator.single(s)
      }.reduce(_ + _))
    val inRow = Seq(Replay.Prescan, Replay.ByteTok, Replay.DecodeNs, Replay.StringTok,
      Replay.Detect, Replay.Classify, Replay.Clean, Replay.BoundaryNs, Replay.Assemble).map(sec).sum
    L("spark.scan_cpu_s") = scan
    L("spark.row_cpu_s") = row - scan
    L("spark.encode_cpu_s") = median(perPass.map(_._1.cpuS).toSeq) - row - inRow
    def perPassMed(f: Pass => Double): Double = median(untraced.map(f))
    L("spark.gc_s") = perPassMed(_.tasks.map(_.gcMs).sum / 1e3)
    L("spark.tasks") = perPassMed(_.tasks.length.toDouble)
    L("spark.task_skew") = perPassMed { p =>
      val run = p.tasks.map(_.runMs.toDouble)
      if (run.isEmpty) 0.0 else run.max / math.max(1.0, median(run))
    }
    L("spark.core_idle_s") = perPassMed(p => p.rec.wallS * r.cpus - p.tasks.map(_.runMs).sum / 1e3)
    L("spark.parallel_overhead") = cpuPerDoc / L("pipeline.extract_us_per_doc_1t")
    // the sink split: two more commits (the verify commit ran first)
    val warmCommits = (1 to 2).map(i => commitPass(r, s"traced-commit-$i"))
    def commitMed(f: Pass => Double): Double = median(warmCommits.map(f))
    L("table.append_s") = commitMed(_.appendS)
    L("table.resume_check_s") = commitMed(_.resumeS)
    L("table.files") = commitMed(_.files.toDouble)
    L("table.bytes_written") = commitMed(_.bytesWritten.toDouble)
    val tracedWall = median(perPass.map(_._1.wallS).toSeq)
    val untracedWall = median(untraced.map(_.rec.wallS))
    L("trace.overhead_s") = tracedWall - untracedWall
    L("trace.traced_wall_s") = tracedWall
    L("trace.untraced_wall_s") = untracedWall
    r.record("trace") = Map("passes" -> perPass.map(p => Json.Raw(p._1.json)).toSeq,
      "digest" -> tracedDigest, "untraced_digest" -> digest,
      "one_thread_us_per_doc" -> oneThread, "one_thread_docs" -> sample.length,
      "scan_cpu_s" -> scan, "row_probe_cpu_s" -> row)
  }
}
