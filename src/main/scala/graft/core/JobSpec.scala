package graft.core

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Job configuration for a MapReduce-style job.
  *
  * Mirrors the reference's `MapReduceSpec` (reference: `src/mapreduce_spec.h:12-20`):
  * an INI-style `key=value` file naming the input files, output directory,
  * reduce fan-out (R), shard size, and the registered user task to run.
  *
  * Spark-native disposition of each knob:
  *  - `numOutputs` (R, `n_output_files`) → `repartition(R, $"key")` before the final
  *    write — exactly R hash-partitioned, key-sorted output files.
  *  - `mapKilobytes` (`map_kilobytes`, reference `src/file_shard.h:19-43`) →
  *    `spark.sql.files.maxPartitionBytes`; Spark's text source already does
  *    byte-range, line-aligned input splitting.
  *  - `numWorkers` / `workerAddrs` (`n_workers`, `worker_ipaddr_ports`) → executor
  *    topology; retained for config-file parity but not used by the engine (Spark's
  *    cluster manager owns executors).
  */
final case class JobSpec(
    numWorkers: Int,
    workerAddrs: Seq[String],
    inputFiles: Seq[String],
    outputDir: String,
    numOutputs: Int,
    mapKilobytes: Int,
    userId: String
) {
  /** Validation parity with reference `src/mapreduce_spec.h:51-64`. */
  def validate(): Either[String, JobSpec] = {
    if (numWorkers <= 0) Left(s"n_workers must be > 0, got $numWorkers")
    else if (workerAddrs.nonEmpty && workerAddrs.size != numWorkers)
      Left(s"n_workers=$numWorkers does not match ${workerAddrs.size} worker addresses")
    else if (numOutputs <= 0) Left(s"n_output_files must be > 0, got $numOutputs")
    else if (mapKilobytes <= 0) Left(s"map_kilobytes must be > 0, got $mapKilobytes")
    else if (userId.isEmpty) Left("user_id must be non-empty")
    else if (inputFiles.isEmpty) Left("input_files must be non-empty")
    else if (outputDir.isEmpty) Left("output_dir must be non-empty")
    else
      inputFiles.find(f => !Files.isReadable(Paths.get(f))) match {
        case Some(f) => Left(s"input file not readable: $f")
        case None    => Right(this)
      }
  }
}

object JobSpec {
  /** Parse an INI-style `key=value` config (reference `src/mapreduce_spec.h:23-47`).
    * Unknown keys are ignored; missing keys get zero/empty defaults so that
    * `validate()` reports them, matching the reference's parse-then-validate split.
    * An integer key whose value does not parse throws IllegalArgumentException
    * naming the key and the value.
    */
  def fromConfig(path: String): JobSpec = {
    val kv = Files
      .readAllLines(Paths.get(path))
      .asScala
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#") && l.contains("="))
      .map { l =>
        val i = l.indexOf('=')
        l.substring(0, i).trim -> l.substring(i + 1).trim
      }
      .toMap
    fromMap(kv)
  }

  def fromMap(kv: Map[String, String]): JobSpec = {
    def csv(k: String): Seq[String] =
      kv.get(k).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    def int(k: String): Int = kv.get(k).fold(0) { v =>
      v.toIntOption.getOrElse(throw new IllegalArgumentException(s"$k must be an integer, got '$v'"))
    }
    JobSpec(
      numWorkers = int("n_workers"),
      workerAddrs = csv("worker_ipaddr_ports"),
      inputFiles = csv("input_files"),
      outputDir = kv.getOrElse("output_dir", ""),
      numOutputs = int("n_output_files"),
      mapKilobytes = int("map_kilobytes"),
      userId = kv.getOrElse("user_id", "")
    )
  }
}
