package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: one local SparkSession shared across suites,
  * recreated on demand if a suite (FailureRecoverySpec) tore it down to run
  * with a different master. Test execution is sequential (single forked JVM),
  * so swap-and-restore is safe.
  */
trait SparkSpec extends AnyFunSuite {
  // Stable identifier (for `import spark.implicits._`), initialized at the
  // suite's first use — safe because suites run sequentially, so a session
  // swap by FailureRecoverySpec can't race a sibling suite's initialization.
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs started while `body` runs, counted on the context's bus. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.ListenerBusDrain(sc); started.get }
    finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  private var _session: SparkSession = _

  /** The shared session: the engine's own (`EngineSession.create`), on
    * `local[8]` with 8 shuffle partitions.
    */
  def session: SparkSession = synchronized {
    if (_session == null || _session.sparkContext.isStopped) _session = EngineSession.create("local[8]", 8)
    _session
  }

  /** A new directory at a [[graft.operators.Connectors.tmp]] path named
    * after `prefix`, deleted at JVM exit with the engine's own temp paths.
    */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(graft.operators.Connectors.tmp(prefix)))

  /** Stop the running session (the shared one or a suite's own) so a suite
    * can build one with a different master; the next `session` call
    * recreates the shared one.
    */
  def reset(): Unit = synchronized {
    (Option(_session) ++ SparkSession.getDefaultSession).foreach(_.stop())
    _session = null
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
