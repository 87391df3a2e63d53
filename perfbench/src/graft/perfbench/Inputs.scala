package graft.perfbench

import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.fixtures.FixtureGen

/** Seeded extraction corpora, pre-written to parquet and cached.
  *
  * A corpus is `pages/` (the PageRow table the program reads — and all it
  * is given) plus `truth/` (url → the generator's expected text), which only
  * the correctness check reads. The cache key is workload, seed, id range
  * and a fingerprint of the generator's output, so a generator change can
  * never be served a stale corpus.
  */
object Inputs {

  /** Bump when the selection or layout below changes meaning. */
  private val Layout = "pages+truth/v1"

  final case class Corpus(dir: Path, docs: Long, htmlBytes: Long) {
    def pages: String = dir.resolve("pages").toString
    def truth: String = dir.resolve("truth").toString
  }

  /** Generator ids scanned per workload. `extract_legacy` keeps only the
    * pages that take the decoded fallback (about 7% of the stream).
    */
  def idRange(workload: String): Long = workload match {
    case "extract_mixed" => 8000L
    case "extract_legacy" => 48000L
    case other => sys.error(s"no corpus for workload $other")
  }

  /** Distinct generator seeds per workload. */
  def corpusSeed(workload: String, seed: Long): Long = {
    val salt = workload match {
      case "extract_mixed" => 0x6d1L
      case "extract_legacy" => 0x1e9L
      case other => other.hashCode.toLong
    }
    seed * 0x9e3779b97f4a7c15L ^ salt
  }

  /** Bytes that are not strict UTF-8, or a page that declares windows-1252:
    * decided here without the program's own decoder.
    */
  def isLegacy(html: Array[Byte]): Boolean = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val valid =
      try { dec.decode(java.nio.ByteBuffer.wrap(html)); true }
      catch { case _: java.nio.charset.CharacterCodingException => false }
    !valid || new String(html, 0, math.min(html.length, 2048), StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT).contains("windows-1252")
  }

  private def keep(workload: String, html: Array[Byte]): Boolean =
    workload != "extract_legacy" || isLegacy(html)

  def fingerprint(workload: String, seed: Long, n: Long): String = {
    val cs = corpusSeed(workload, seed)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$Layout|$workload|$seed|$n".getBytes(StandardCharsets.UTF_8))
    (Seq(0L, 1L, 2L, 3L, 7L, 25L, 50L, 97L, 131L, 250L, 499L, 997L, 4999L) :+ (n - 1)).foreach { id =>
      val f = FixtureGen.fixture(id, cs)
      md.update(f.page.url.getBytes(StandardCharsets.UTF_8))
      md.update(f.page.html)
      md.update(f.expected.getBytes(StandardCharsets.UTF_8))
    }
    md.digest().take(6).map(b => f"$b%02x").mkString
  }

  /** The corpus for (workload, seed), generating it on a cache miss.
    * Returns the corpus and the seconds spent generating (0 on a hit).
    */
  def ensure(r: Main.Run): (Corpus, Double) = {
    val spark = r.spark
    val (work, workload, seed) = (r.work, r.workload, r.seed)
    import spark.implicits._
    val n = idRange(workload)
    val root = work.resolve("inputs")
    val dir = root.resolve(s"$workload-s$seed-n$n-${fingerprint(workload, seed, n)}")
    val done = dir.resolve("_READY")
    val t0 = System.nanoTime()
    if (!Files.exists(done)) {
      Probe.deleteTree(dir)
      val cs = corpusSeed(workload, seed)
      val parts = 16
      val docs = spark.sparkContext.longAccumulator("perfbench.gen.docs")
      val bytes = spark.sparkContext.longAccumulator("perfbench.gen.bytes")
      val gen = spark.range(0L, n, 1L, parts).as[Long].mapPartitions(ids =>
        ids.map(id => FixtureGen.fixture(id, cs)).filter(f => keep(workload, f.page.html))
          .map(f => (f.page, f.expected)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.phase("gen_pages")(gen.map { case (p, _) =>
        docs.add(1L); bytes.add(p.html.length.toLong); p
      }.write.parquet(dir.resolve("pages").toString))
      r.phase("gen_truth")(gen.map(t => (t._1.url, t._2)).toDF("url", "expected")
        .coalesce(4).write.parquet(dir.resolve("truth").toString))
      gen.unpersist()
      Probe.write(dir.resolve("stats.json"), Json(Map("docs" -> docs.sum, "html_bytes" -> bytes.sum)))
      Files.createFile(done)
    }
    val genS = (System.nanoTime() - t0) / 1e9
    evict(root, keepDir = dir)
    val m = graft.tools.JsonMini.parse(new String(Files.readAllBytes(dir.resolve("stats.json")),
      StandardCharsets.UTF_8)).asInstanceOf[Map[String, Any]]
    (Corpus(dir, m("docs").asInstanceOf[Long], m("html_bytes").asInstanceOf[Long]), genS)
  }

  /** Keep the cache to the few most recently used corpora. */
  private def evict(root: Path, keepDir: Path, max: Int = 6): Unit = {
    Files.setLastModifiedTime(keepDir, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val s = Files.list(root)
    val dirs = try s.iterator().asScala.filter(Files.isDirectory(_)).toVector finally s.close()
    dirs.filter(_ != keepDir)
      .sortBy(d => -Files.getLastModifiedTime(d).toMillis)
      .drop(max - 1)
      .foreach(Probe.deleteTree)
  }
}
