package graft.tasks

import graft.core.MapReduceTask
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.util.regex.Pattern

/** The reference's one shipped user task (reference: `test/user_tasks.cc:12-34`,
  * registered as user `cs6210` at :49): tokenize each line on the delimiter set
  * `" ,."'"` and count occurrences of each token.
  *
  * Two implementations, cross-checked in tests:
  *  1. [[WordCount]] — the `MapReduceTask` form, running on the generic
  *     [[graft.core.MapReduceJob]] runtime (UDF path; opaque to Catalyst, exactly
  *     like the reference's virtual-call dispatch `src/worker.h:73,106`). It is
  *     [[combinable]]: the sum runs map-side too, so each map task shuffles one
  *     `(word, count)` pair per distinct word per buffer flush, where the reference
  *     (`test/user_tasks.cc:19`) ships one `(word, "1")` pair per occurrence.
  *  2. [[WordCount.dataFrameQuery]] — the declarative form
  *     (`explode(split(...)) → groupBy.count`), which Catalyst compiles with
  *     map-side partial aggregation.
  */
object WordCount extends MapReduceTask {
  /** `strtok_r` on `" ,."'"` semantics: split on runs of delimiters, drop empties. */
  val DelimRegex = "[ ,.\"']+"

  /** Compiled once: `String.split` compiles a multi-character pattern on every call. */
  private val Delim = Pattern.compile(DelimRegex)

  def tokenize(line: String): Iterator[String] =
    Delim.split(line).iterator.filter(_.nonEmpty)

  override def map(line: String): IterableOnce[(String, String)] =
    tokenize(line).map(w => (w, "1"))

  /** Summing counts is associative and commutative, and a count is a valid input. */
  override def combinable: Boolean = true

  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    var sum = 0L
    while (values.hasNext) sum += values.next().toLong
    Iterator.single((key, sum.toString))
  }

  /** Declarative equivalent over any single string column. */
  def dataFrameQuery(lines: DataFrame, textCol: String): DataFrame =
    lines
      .select(explode(split(col(textCol), DelimRegex)).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  def dataFrameQuery(lines: Dataset[String]): DataFrame =
    dataFrameQuery(lines.toDF("value"), "value")
}
