package graft.tasks

import graft.core.MapReduceTask

/** The reference course's second canonical MapReduce example — mean/max value
  * per month (described but not shipped: reference `description.md:43`).
  * Input records: `YYYY-MM-DD<space>value` lines. Map emits
  * `(YYYY-MM, value)`; reduce emits `(YYYY-MM, "mean max count")`.
  *
  * Demonstrates multi-task registry use (the reference's `user_id` dispatch,
  * `src/mr_task_factory.cc:74-88`) alongside [[WordCount]].
  *
  * Declares no combiner: `reduce` takes raw readings, not partial
  * `(sum, max, n)` triples, so a combined value is not something it accepts
  * in place of the values it merged. Every reading is shuffled.
  */
object MonthlyStats extends MapReduceTask {

  override def map(line: String): IterableOnce[(String, String)] = {
    val i = line.indexOf(' ')
    if (i < 7) Iterator.empty
    else {
      val date = line.substring(0, i)
      val value = line.substring(i + 1).trim
      if (date.length >= 7 && value.nonEmpty)
        try {
          value.toDouble // validate
          Iterator.single((date.substring(0, 7), value))
        } catch { case _: NumberFormatException => Iterator.empty }
      else Iterator.empty
    }
  }

  override def reduce(key: String, values: Iterator[String]): IterableOnce[(String, String)] = {
    var n = 0L
    var sum = 0.0
    var max = Double.NegativeInfinity
    while (values.hasNext) {
      val v = values.next().toDouble
      n += 1
      sum += v
      if (v > max) max = v
    }
    if (n == 0) Iterator.empty
    else Iterator.single((key, f"${sum / n}%.4f $max%.2f $n%d"))
  }
}
