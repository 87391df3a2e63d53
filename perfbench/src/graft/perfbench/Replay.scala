package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.util.AccumulatorV2
import graft.boundary.Boundary
import graft.classify.Classifiers
import graft.clean.Artifacts
import graft.core._
import graft.detect.{Deskew, Quality}
import graft.html.{ByteTokenizer, Decode, HtmlTokenizer}
import graft.pipeline.Extract

/** `Extract.apply` replayed through the public layer functions, in the same
  * order, with a clock around each call. Only the default configuration is
  * replayed (no rotate, deskew or auto-profile; contour boundary), which is
  * the configuration every workload runs. The self-test in
  * [[Replay.goldenMismatches]] holds the replay to `Extract.apply` byte for
  * byte.
  */
object Replay {
  // nanosecond slots
  final val Prescan = 0
  final val ByteTok = 1
  final val DecodeNs = 2
  final val StringTok = 3
  final val Detect = 4
  final val Classify = 5
  final val Clean = 6
  final val BoundaryNs = 7
  final val Assemble = 8
  // count slots
  final val Docs = 9
  final val Blocks = 10
  final val Kept = 11
  final val FbNonUtf8 = 12
  final val FbInvalidUtf8 = 13
  final val FbOverCap = 14
  final val PrescanBytes = 15
  final val WastedBytes = 16
  final val QEmpty = 17
  final val QGarbage = 18
  final val QNoBlocks = 19
  final val Slots = 20

  private val layerName = Array("html.prescan", "html.byte_tokenize", "html.decode",
    "html.string_tokenize", "detect", "classify", "clean", "boundary", "pipeline.assemble")

  /** Per-doc clock. Spans are kept only when `spans` is non-null. */
  final class Clock(c: Array[Long], spans: ArrayBuffer[String], doc: String, pass: String) {
    private var t = System.nanoTime()
    def lap(slot: Int): Unit = {
      val n = System.nanoTime()
      c(slot) += n - t
      if (spans != null)
        spans += Json(Map("name" -> layerName(slot), "pass" -> pass, "parent" -> doc,
          "start_ns" -> t, "end_ns" -> n))
      t = n
    }
  }

  private val cfg = Extract.Default

  def apply(url: String, html: Array[Byte], c: Array[Long],
      spans: ArrayBuffer[String] = null, pass: String = ""): ExtractedDoc = {
    c(Docs) += 1
    val bytes = if (html == null) Array.emptyByteArray else html
    if (bytes.isEmpty) {
      c(QEmpty) += 1
      return quarantine(url, Status.EmptyHtml, 0, 0, "empty", 0.0)
    }
    val clk = new Clock(c, spans, url, pass)
    val plan = Decode.utf8Plan(bytes)
    if (plan != null) {
      val ps = ByteTokenizer.prescan(bytes, plan.offset)
      clk.lap(Prescan)
      c(PrescanBytes) += bytes.length
      if (ps.valid && ps.utf16Len <= cfg.caps.maxChars) {
        val garbage = if (ps.utf16Len == 0) 0.0 else ps.garbage.toDouble / ps.utf16Len
        if (garbage > cfg.maxGarbageRatio) {
          c(QGarbage) += 1
          return quarantine(url, Status.Garbage, bytes.length, ps.utf16Len, plan.label, garbage)
        }
        val tok = ByteTokenizer(bytes, plan.offset, cfg.caps)
        clk.lap(ByteTok)
        if (tok.blocks.isEmpty) {
          c(QNoBlocks) += 1
          return quarantine(url, Status.NoBlocks, bytes.length, ps.utf16Len, plan.label, garbage)
        }
        return finish(url, tok, bytes.length, ps.utf16Len, plan.label, garbage, c, clk)
      }
      c(WastedBytes) += bytes.length
      c(if (!ps.valid) FbInvalidUtf8 else FbOverCap) += 1
    } else {
      clk.lap(Prescan)
      c(FbNonUtf8) += 1
    }
    val dec = Decode(bytes)
    clk.lap(DecodeNs)
    val garbage = Quality.garbageRatio(dec.text)
    clk.lap(Detect)
    if (garbage > cfg.maxGarbageRatio) {
      c(QGarbage) += 1
      return quarantine(url, Status.Garbage, bytes.length, dec.text.length, dec.charset, garbage)
    }
    val tok = HtmlTokenizer(dec.text, cfg.caps)
    clk.lap(StringTok)
    if (tok.blocks.isEmpty) {
      c(QNoBlocks) += 1
      return quarantine(url, Status.NoBlocks, bytes.length, dec.text.length, dec.charset, garbage)
    }
    finish(url, tok, bytes.length, dec.text.length, dec.charset, garbage, c, clk)
  }

  private def finish(url: String, tok: HtmlTokenizer.Result, htmlByteLen: Int,
      decodedChars: Int, charset: String, garbage: Double,
      c: Array[Long], clk: Clock): ExtractedDoc = {
    val blocks = tok.blocks
    val angle = Deskew.findAngle(blocks)
    clk.lap(Detect)
    var labels = Classifiers.classify(blocks, cfg.classifier)
    clk.lap(Classify)
    labels = Artifacts.all(blocks, labels)
    clk.lap(Clean)
    labels = Boundary(labels, Boundary.find(blocks, labels))
    clk.lap(BoundaryNs)
    val (text, spans) = Extract.assemble(blocks, labels, cfg.blockSeparator)
    val kept = labels.count(identity)
    clk.lap(Assemble)
    val quality = Quality.parseability(decodedChars, blocks)
    clk.lap(Detect)
    c(Blocks) += blocks.length
    c(Kept) += kept
    ExtractedDoc(url, text, spans, Status.Ok,
      DocStats(angle = angle, nBlocks = blocks.length, nKept = kept,
        htmlBytes = htmlByteLen.toLong, decodedChars = decodedChars, charset = charset,
        truncated = tok.truncated, qualityScore = quality, garbageRatio = garbage))
  }

  private def quarantine(url: String, status: String, htmlBytes: Long, decodedChars: Int,
      charset: String, garbage: Double): ExtractedDoc =
    ExtractedDoc(url, "", Array.empty, status,
      DocStats(0, 0, htmlBytes, decodedChars, charset, truncated = false,
        qualityScore = 0.0, garbageRatio = garbage))

  def sameDoc(a: ExtractedDoc, b: ExtractedDoc): Boolean =
    a.url == b.url && a.extracted_text == b.extracted_text && a.status == b.status &&
      a.stats == b.stats && a.spans.sameElements(b.spans)

  /** Urls whose replay differs from `Extract.apply` over the given pages. */
  def mismatches(pages: Iterable[PageRow]): Seq[String] = {
    val c = new Array[Long](Slots)
    pages.iterator.filterNot(p => sameDoc(Extract(p), Replay(p.url, p.html, c)))
      .map(_.url).toVector
  }

  /** The golden corpora (the fixtures frozen under
    * src/test/resources/golden): replay must equal `Extract.apply` on each.
    */
  def goldenMismatches(): Seq[String] =
    mismatches(graft.fixtures.FixtureGen.fixtures(500).map(_.page))

  /** Element-wise sum of per-partition slot arrays. */
  final class SlotsAcc extends AccumulatorV2[Array[Long], Array[Long]] {
    private val a = new Array[Long](Slots)
    def isZero: Boolean = a.forall(_ == 0L)
    def copy(): SlotsAcc = { val c = new SlotsAcc; c.add(a); c }
    def reset(): Unit = java.util.Arrays.fill(a, 0L)
    def add(v: Array[Long]): Unit = { var i = 0; while (i < Slots) { a(i) += v(i); i += 1 } }
    def merge(o: AccumulatorV2[Array[Long], Array[Long]]): Unit = add(o.value)
    def value: Array[Long] = a
  }
}
