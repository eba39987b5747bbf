package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import java.io.{BufferedWriter, IOException, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The whole reference runtime, Spark-first.
  *
  * One configured job ≡ one Spark action with a single shuffle:
  *
  * {{{
  * text scan (line-aligned byte splits)        ≡ reference src/file_shard.h:19-43 + src/worker.h:57-81
  *   → flatMap(task.map)                       ≡ map UDTF dispatch, src/worker.h:73
  *   → bounded map-side combine (optional)     ≡ OSDI'04 §4.3 Combiner; the reference has none
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
  * append-mode duplicate-on-retry hazard (`src/mr_tasks.h:25,69`) cannot happen:
  * every reduce attempt writes its own staged file and only the accepted attempt
  * of each partition is published ([[writeResultFiles]]).
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
  *  - A task that declares a combiner ([[MapReduceTask.combine]]) shuffles at
  *    most one pair per distinct key per map task and per combiner flush,
  *    instead of one per emitted pair; the combiner's hash map holds at most
  *    [[CombineKeys]] keys and about [[CombineBytes]] bytes of keys and
  *    values, whichever fills first. A reduce expressible as a SQL aggregate
  *    can also use the DataFrame formulation, whose partial aggregation is
  *    codegen'd; see [[graft.tasks.WordCount.dataFrameQuery]].
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
    try writeResultFiles(job, reduced, spec.outputDir, spec.userId, spec.numOutputs)
    catch { case e: SparkException => throw userError(e) }
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

  /** Map phase: one narrow stage, no shuffle (reference map loop `src/worker.h:64-75`).
    * A task with a combiner folds each map partition's pairs through
    * [[combineBounded]] before they reach the shuffle.
    */
  def mapPhase(lines: Dataset[String], task: MapReduceTask): Dataset[(String, String)] = {
    import lines.sparkSession.implicits._
    task.combine match {
      case None => lines.flatMap(task.map(_))
      case Some(f) =>
        lines.mapPartitions(it => combineBounded(it.flatMap(task.map(_).iterator), f, CombineKeys))
    }
  }

  /** Distinct keys the map-side combiner holds before it flushes. */
  private[core] val CombineKeys = 65536

  /** Estimated bytes the map-side combiner holds before it flushes. */
  private[core] val CombineBytes = 64L << 20

  /** The byte estimate's fixed cost per entry: a hash-map node and two
    * string headers. Each char adds 2 bytes.
    */
  private val EntryBytes = 64

  /** Merge equal keys' values with `f` in a hash map of at most `maxKeys`
    * keys and about `maxBytes` bytes, counted as each key is inserted. When
    * either limit is reached, every entry is emitted and the map starts
    * over, so memory stays bounded at any scale and key size, and a key may
    * come out more than once — which a combiner's contract allows.
    */
  private[core] def combineBounded(
      pairs: Iterator[(String, String)],
      f: (String, String) => String,
      maxKeys: Int,
      maxBytes: Long = CombineBytes
  ): Iterator[(String, String)] =
    new Iterator[(String, String)] {
      private var flushed: Iterator[(String, String)] = Iterator.empty

      def hasNext: Boolean = flushed.hasNext || { fill(); flushed.hasNext }
      def next(): (String, String) = {
        if (!hasNext) throw new NoSuchElementException("combined pairs exhausted")
        flushed.next()
      }

      private def fill(): Unit = {
        val acc = new java.util.HashMap[String, String]
        var bytes = 0L
        while (acc.size < maxKeys && bytes < maxBytes && pairs.hasNext) {
          val (k, v) = pairs.next()
          val old = acc.get(k)
          if (old == null) bytes += 2L * (k.length + v.length) + EntryBytes
          acc.put(k, if (old == null) v else f(old, v))
        }
        flushed = acc.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue))
      }
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
    *
    * Each reduce task streams its lines as UTF-8 into its own attempt file
    * under a hidden staging sibling of `outputDir` (`.<name>.staging-<uuid>`,
    * same filesystem) and returns `(partition, file)`. The driver takes the
    * accepted attempt of each partition — exactly `0 until R`, or the job
    * fails — renames it to `final/{user_id}_result_{r}`, then publishes
    * `final` in two directory renames: the previous `outputDir` to
    * `previous` under staging, then `final` to `outputDir`. If the second
    * rename fails, `previous` is renamed back; if that fails too, staging is
    * kept and the exception names where the previous output is. Deleting
    * staging deletes the replaced output with it. A failed or speculative
    * attempt writes only under `attempts/`, never into the published
    * directory, and a failed job leaves the previous `outputDir` untouched;
    * a driver that dies between the two renames leaves it under the staging
    * sibling. Attempt files are created non-recursively, so a straggler
    * outliving the job cannot recreate the staging directory once it is
    * deleted. Tasks read the Hadoop conf from one broadcast instead of
    * carrying it in every task closure.
    */
  private def writeResultFiles(
      job: SparkSession,
      reduced: Dataset[(String, String)],
      outputDir: String,
      userId: String,
      numOutputs: Int
  ): Unit = {
    import job.implicits._
    val hadoopConf = job.sessionState.newHadoopConf()
    val fs = new Path(outputDir).getFileSystem(hadoopConf)
    val out = fs.makeQualified(new Path(outputDir))
    if (out.getParent == null) throw new IllegalArgumentException(s"output_dir must not be a root: $out")
    val staging = new Path(out.getParent, s".${out.getName}.staging-${UUID.randomUUID()}")
    val attempts = new Path(staging, "attempts").toString
    val conf = job.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)) // bounded: one Hadoop conf
    var keepStaging = false
    try {
      if (!fs.mkdirs(new Path(attempts))) throw new IOException(s"failed to create $attempts")
      val written = reduced.mapPartitions { it =>
        val tc = TaskContext.get()
        val file = new Path(attempts, s"${tc.partitionId()}-${tc.taskAttemptId()}")
        val w = new BufferedWriter(new OutputStreamWriter(
          file.getFileSystem(conf.value.value).createFile(file).build(), StandardCharsets.UTF_8))
        try it.foreach { case (k, v) => w.write(resultLine(k, v)); w.write('\n') }
        finally w.close()
        Iterator.single((tc.partitionId(), file.toString))
      }.collect()
      val partitions = written.map(_._1).sorted.toSeq
      if (partitions != (0 until numOutputs))
        throw new IllegalStateException(s"expected reduce partitions 0 until $numOutputs, got $partitions")
      val published = new Path(staging, "final")
      if (!fs.mkdirs(published)) throw new IOException(s"failed to create $published")
      written.foreach { case (r, file) => rename(fs, new Path(file), new Path(published, s"${userId}_result_$r")) }
      val previous = new Path(staging, "previous")
      val replacing = fs.exists(out)
      if (replacing) rename(fs, out, previous)
      try rename(fs, published, out)
      catch { case NonFatal(e) if replacing =>
        try rename(fs, previous, out)
        catch { case NonFatal(r) =>
          keepStaging = true
          val lost = new IOException(
            s"failed to publish $published to $out, and to restore the previous output: it is at $previous", e)
          lost.addSuppressed(r)
          throw lost
        }
        throw e
      }
    } finally {
      conf.destroy()
      if (!keepStaging) fs.delete(staging, true)
    }
  }

  private def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst)) throw new IOException(s"failed to rename $src to $dst")

  /** A failed job surfaces as a `SparkException` with the task's own
    * exception deep in its cause chain. A rejected pair (or any other
    * `IllegalArgumentException` a task threw) is rethrown as one with the
    * same message, keeping the `SparkException` as its cause, so the caller
    * sees the reason first; any other failure is rethrown as is.
    */
  private def userError(e: SparkException): Exception =
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
      case iae: IllegalArgumentException => new IllegalArgumentException(iae.getMessage, e)
    }.getOrElse(e)
}
