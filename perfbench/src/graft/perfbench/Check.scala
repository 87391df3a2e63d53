package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correctness of extraction output: every url of the ground truth must
  * appear exactly once with exactly the generator's expected text. The
  * comparison runs in this JVM over the collected (url, text) pairs.
  */
object Check {

  final case class Result(attempted: Long, missing: Long, extra: Long, wrong: Long,
      duplicated: Long, examples: Seq[String]) {
    def failed: Long = missing + extra + wrong + duplicated
    def json: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
      "missing" -> missing, "extra" -> extra, "wrong" -> wrong,
      "duplicated" -> duplicated, "examples" -> examples)
  }

  /** (url → expected text) of a truth table with columns (url, expected). */
  def truth(df: DataFrame): Map[String, String] =
    df.select(col("url"), col("expected")).collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** (url, extracted_text) pairs of an output table. */
  def output(df: DataFrame): Array[(String, String)] =
    df.select(col("url"), col("extracted_text")).collect().map(r => (r.getString(0), r.getString(1)))

  def apply(out: Array[(String, String)], truth: Map[String, String]): Result = {
    val seen = new java.util.HashSet[String](out.length * 2)
    var extra, wrong, duplicated = 0L
    val examples = Vector.newBuilder[String]
    var nExamples = 0
    def example(url: String): Unit = if (nExamples < 3) { examples += url; nExamples += 1 }
    out.foreach { case (url, text) =>
      if (!seen.add(url)) { duplicated += 1; example(url) }
      else truth.get(url) match {
        case None => extra += 1; example(url)
        case Some(exp) => if (exp != text) { wrong += 1; example(url) }
      }
    }
    val missing = truth.keysIterator.count(u => !seen.contains(u)).toLong
    Result(truth.size.toLong, missing, extra, wrong, duplicated, examples.result())
  }

  /** The check must reject an output with one altered doc text and an
    * output with no rows; returns the self-test failures (empty when sound).
    */
  def selfTest(out: Array[(String, String)], truth: Map[String, String]): Seq[String] = {
    val altered = out.headOption.map { case (u, t) =>
      apply(out.updated(0, (u, t + "\u0000")), truth)
    }
    val empty = apply(Array.empty, truth)
    Seq(
      if (altered.exists(r => r.wrong == 1 && r.failed == 1)) None
      else Some("altered doc text was not rejected"),
      if (truth.nonEmpty && empty.failed == truth.size) None
      else Some("zero-row output was not rejected")).flatten
  }

  /** Order-independent digest of a full ExtractedDoc output. */
  def digest(docs: DataFrame): String = {
    val h = xxhash64(col("url"), col("extracted_text"), col("spans"), col("status"), col("stats"))
    val r = docs.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(2147483647L)))).collect()(0)
    f"${r.getLong(0)}%d-${r.getLong(1)}%016x-${r.getLong(2)}%x"
  }
}
