package perfbench

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

import graft.core.{MapReducePipeline, TextSink}

/** The source paper's two applications, written the way a user of
  * `MapReducePipeline` writes them: wordcount (tokenize, group, sum,
  * sort by count) in the general and the combining form, and grep
  * (numbered lines holding a pattern, in line order). Each ends in one
  * sorted text file written by `TextSink`.
  */
object Apps {
  private val Word = "[A-Za-z][A-Za-z']*".r

  /** Words are maximal `[A-Za-z][A-Za-z']*` runs, folded to upper case. */
  def words(line: String): Iterator[(String, Long)] =
    Word.findAllIn(line).map(w => (w.toUpperCase, 1L))

  object Sum extends Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b + a
    def merge(a: Long, b: Long): Long = a + b
    def finish(r: Long): Long = r
    def bufferEncoder = Encoders.scalaLong
    def outputEncoder = Encoders.scalaLong
  }

  /** `WORD\tcount` lines, count descending then word ascending. */
  private def countsSorted(counts: Dataset[(String, Long)]) = {
    val Array(word, cnt) = counts.columns
    counts.orderBy(col(cnt).desc, col(word))
  }

  private def countLine(p: (String, Long)): String = s"${p._1}\t${p._2}"

  def wordcountGeneral(s: SparkSession, corpus: String,
      out: String): Built = {
    import s.implicits._
    val counts = MapReducePipeline.mapReduce[String, Long, String, Long](
      MapReducePipeline.source(s, corpus), words,
      (w: String, ones: Iterator[Long]) => Iterator((w, ones.sum)))
    val sorted = countsSorted(counts)
    Built(sorted, () => TextSink.write(sorted, countLine, out))
  }

  def wordcountAgg(s: SparkSession, corpus: String, out: String): Built = {
    import s.implicits._
    val counts = MapReducePipeline.mapReduceAgg[String, Long, Long](
      MapReducePipeline.source(s, corpus), words, Sum)
    val sorted = countsSorted(counts)
    Built(sorted, () => TextSink.write(sorted, countLine, out))
  }

  /** `lineNo\tline` for every 0-based line containing `pattern`. */
  def grep(s: SparkSession, corpus: String, pattern: String,
      out: String): Built = {
    val hits = MapReducePipeline.sourceWithLineNumbers(s, corpus)
      .filter(_._2.contains(pattern))
    val sorted = hits.orderBy(col(hits.columns(0)))
    Built(sorted,
      () => TextSink.write(sorted, (p: (Long, String)) => s"${p._1}\t${p._2}",
        out))
  }
}
