package graft.core

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The whole reference runtime, Spark-first.
  *
  * One configured job ≡ one Spark action with a single shuffle:
  *
  * {{{
  * text scan (line-aligned byte splits)        ≡ reference src/file_shard.h:19-43 + src/worker.h:57-81
  *   → flatMap(task.map)                       ≡ map UDTF dispatch, src/worker.h:73
  *   → repartition(R, key)                     ≡ hash partitioner, src/mr_tasks.h:47-49
  *   → sortWithinPartitions(key)               ≡ reduce-side sort grouping, src/worker.h:92-106
  *   → streaming adjacent-group reduce         ≡ reduce UDAF dispatch, src/worker.h:105-106
  *   → "key value" text sink, R files          ≡ src/mr_tasks.h:66-77,89-91
  * }}}
  *
  * What is deliberately NOT rebuilt (SURVEY.md §7.4): master/worker processes, gRPC
  * (`src/masterworker.proto`), greedy FIFO scheduling (`src/master.h:217-232`),
  * straggler/failure handling (`src/master.h:234-256`) — Spark's DAGScheduler, task
  * retry, speculation, and shuffle service subsume all of it. The reference's
  * append-mode duplicate-on-retry hazard (`src/mr_tasks.h:25,69`) is fixed for free
  * by Spark's task-commit protocol.
  *
  * Scale notes (100 TB design points):
  *  - The reduce is sort-based and streaming: within each of the R partitions,
  *    equal keys are adjacent after the partition-local sort, so grouping needs no
  *    hash map and a single key's values never have to fit in memory (Spark's
  *    external sorter spills). The reference materializes every group in a
  *    `std::map` and OOMs past RAM.
  *  - The reference writes M·R intermediate files (`src/mr_tasks.h:23`); Spark's
  *    sort-based shuffle writes one spillable file per map task. No small-file
  *    explosion at M=10^5.
  *  - For algebraic reduces prefer the DataFrame formulation (map-side partial
  *    aggregation); see [[graft.tasks.WordCount.dataFrameQuery]].
  */
object MapReduceJob {

  /** Run a registered task end-to-end from a parsed spec: read, map, shuffle,
    * sorted-reduce, write R text files named `{user_id}_result_{r}`.
    */
  def run(spark: SparkSession, spec: JobSpec): Unit = {
    spec.validate().left.foreach(msg => throw new IllegalArgumentException(msg))
    val task = TaskRegistry(spec.userId)
    val job = jobSession(spark, spec)
    val lines = job.read.textFile(spec.inputFiles: _*)
    val reduced = reduceSorted(mapPhase(lines, task), task, spec.numOutputs)
    writeResultFiles(job, reduced, spec.outputDir, spec.userId, spec.numOutputs)
  }

  /** The session one job runs on: a new session on the caller's context, so
    * it starts from the engine confs the context was built with, and the
    * job's split size (map_kilobytes ≡ reference src/file_shard.h:20-21) is
    * set on it alone — never on the caller's session, which concurrent jobs
    * may share.
    */
  private[core] def jobSession(spark: SparkSession, spec: JobSpec): SparkSession = {
    val job = spark.newSession()
    job.conf.set("spark.sql.files.maxPartitionBytes", (spec.mapKilobytes.toLong * 1024).toString)
    job
  }

  /** Map phase: one narrow stage, no shuffle (reference map loop `src/worker.h:64-75`). */
  def mapPhase(lines: Dataset[String], task: MapReduceTask): Dataset[(String, String)] = {
    import lines.sparkSession.implicits._
    lines.flatMap(task.map(_))
  }

  /** Shuffle + sorted streaming reduce. Exactly one exchange: hash-partition on key
    * into R partitions (reference `src/mr_tasks.h:48` — co-location semantics, not
    * the same hash function), partition-local sort, then group adjacent equal keys
    * and stream each group's values through `task.reduce`.
    */
  def reduceSorted(
      pairs: Dataset[(String, String)],
      task: MapReduceTask,
      numOutputs: Int
  ): Dataset[(String, String)] = {
    import pairs.sparkSession.implicits._
    pairs
      .repartition(numOutputs, col("_1"))
      .sortWithinPartitions("_1")
      .mapPartitions { it =>
        adjacentGroups(it).flatMap { case (k, vs) =>
          // Materialize each group's (small) result eagerly so a lazily-built
          // result can't observe the values iterator after the group is drained.
          task.reduce(k, vs).iterator.toVector
        }
      }
  }

  /** Group an iterator sorted by key into (key, streaming-values) pairs. Values for
    * a key are never materialized; unconsumed values are drained on advance.
    */
  def adjacentGroups(it: Iterator[(String, String)]): Iterator[(String, Iterator[String])] =
    new Iterator[(String, Iterator[String])] {
      private val buf = it.buffered
      private var cur: ValueIter = _

      private final class ValueIter(key: String) extends Iterator[String] {
        def hasNext: Boolean = buf.hasNext && buf.head._1 == key
        def next(): String = buf.next()._2
        def drain(): Unit = while (hasNext) next()
      }

      def hasNext: Boolean = {
        if (cur != null) { cur.drain(); cur = null }
        buf.hasNext
      }
      def next(): (String, Iterator[String]) = {
        if (!hasNext) throw new NoSuchElementException("empty group iterator")
        val k = buf.head._1
        cur = new ValueIter(k)
        (k, cur)
      }
    }

  /** One `key value` sink line. Read back, a line splits at its first space
    * into the pair, so the key may hold no space and neither may hold a line
    * break; the value may hold spaces (MonthlyStats emits `mean max count`).
    * A pair the format cannot hold fails the job naming it, instead of
    * reading back as a different pair.
    */
  private[core] def resultLine(key: String, value: String): String = {
    def breaks(s: String) = s.exists(c => c == '\n' || c == '\r')
    if (key == null || value == null || key.contains(' ') || breaks(key) || breaks(value)) {
      def show(s: String) =
        if (s == null) "null" else "\"" + s.take(100).replace("\n", "\\n").replace("\r", "\\r") + "\""
      throw new IllegalArgumentException(
        s"reduce emitted (${show(key)}, ${show(value)}): the `key value` sink needs a non-null key " +
          "without spaces or line breaks and a non-null value without line breaks")
    }
    s"$key $value"
  }

  /** Text sink contract of the reference (`src/mr_tasks.h:66-70,89-91` +
    * `description.md:62,66-68`): R files named `{user_id}_result_{r}`, one
    * `key value` line per pair ([[resultLine]]), keys sorted within each file.
    */
  private def writeResultFiles(
      spark: SparkSession,
      reduced: Dataset[(String, String)],
      outputDir: String,
      userId: String,
      numOutputs: Int
  ): Unit = {
    import spark.implicits._
    reduced
      .map { case (k, v) => resultLine(k, v) }
      .write
      .mode(SaveMode.Overwrite)
      .text(outputDir)
    // Rename part files to the reference's result-file naming, via the Hadoop
    // FileSystem API (works on any FS the sink wrote to, not just local).
    // The reduce partition index r is parsed from the part file name
    // (part-00003-… → result_3): empty partitions write no part file, so a
    // positional rename of the sorted survivors would shift indices and break
    // the key→hash-partition→file correspondence.
    import org.apache.hadoop.fs.Path
    val out = new Path(outputDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(out).map(_.getPath).filter(_.getName.startsWith("part-"))
    parts.foreach { p =>
      val r = p.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      val dst = new Path(out, s"${userId}_result_$r")
      if (!fs.rename(p, dst))
        throw new java.io.IOException(s"failed to rename $p to $dst")
    }
    // Partitions with no data produce no part file; emit empty files to keep the
    // R-files contract (the reference always creates all R sinks, src/mr_tasks.h:19-27).
    (0 until numOutputs).foreach { r =>
      val p = new Path(out, s"${userId}_result_$r")
      if (!fs.exists(p)) fs.create(p).close()
    }
  }
}
