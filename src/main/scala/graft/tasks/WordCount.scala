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
  *     like the reference's virtual-call dispatch `src/worker.h:73,106`). Its
  *     sum combiner ([[combine]]) aggregates map-side, which the reference lacks
  *     (`test/user_tasks.cc:19` ships one `(word, "1")` pair per occurrence).
  *  2. [[WordCount.dataFrameQuery]] — the declarative form
  *     (`explode(split(...)) → groupBy.count`), which Catalyst compiles with
  *     map-side partial aggregation.
  *
  * Both shuffle O(distinct words per map task) instead of O(total words).
  */
object WordCount extends MapReduceTask {
  /** `strtok_r` on `" ,."'"` semantics: split on runs of delimiters, drop empties. */
  val DelimRegex = "[ ,.\"']+"

  /** `String.split` compiles a multi-character regex on every call. */
  private val Delim = Pattern.compile(DelimRegex)

  def tokenize(line: String): Iterator[String] =
    Delim.split(line).iterator.filter(_.nonEmpty)

  override def map(line: String): IterableOnce[(String, String)] =
    tokenize(line).map(w => (w, "1"))

  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    var sum = 0L
    while (values.hasNext) sum += values.next().toLong
    Iterator.single((key, sum.toString))
  }

  /** Partial counts add up: [[reduce]] sums combined values like raw `"1"`s. */
  override val combine: Option[(String, String) => String] =
    Some((a, b) => (a.toLong + b.toLong).toString)

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
