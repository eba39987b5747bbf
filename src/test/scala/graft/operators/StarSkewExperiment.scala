package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Measurement harness (dev tool, test scope — not part of the library):
  * quantify how the star-contraction CC behaves on an adversarially skewed
  * graph, and whether the round's single `repartition(col("u"))` exchange
  * helps or hurts there. Run via
  * `sbt "Test/runMain graft.operators.StarSkewExperiment"`.
  *
  * The planted worst case for u-keyed partitioning: a giant star whose hub
  * id is LARGER than every leaf id — large-star then emits one edge per
  * leaf all keyed by the hub, so a hash exchange on u concentrates the
  * hub's whole neighborhood into one task. Background chains keep the
  * fixpoint running several rounds so per-round overheads are visible too.
  * Reports wall time per run plus the maximum single-task shuffle-read row
  * count observed (the skew meter).
  */
object StarSkewExperiment {
  def main(args: Array[String]): Unit = {
    val spark = graft.EngineSession.local()
    import spark.implicits._

    val hub = 10000000L
    val leaves = 200000
    val star = (0 until leaves).map(i => (hub, i.toLong))
    val chains = (0 until 100).flatMap { c =>
      val base = 1000000L + c * 10000
      (0 until 500).map(i => (base + i, base + i + 1))
    }
    val pairs = spark.sparkContext.parallelize(star ++ chains, 32).toDF("doc_a", "doc_b")
      .localCheckpoint(true)

    @volatile var maxTaskRows = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          val rows = m.shuffleReadMetrics.recordsRead
          if (rows > maxTaskRows) maxTaskRows = rows
        }
      }
    })

    // Correctness first: hub component = min(0..leaves) = 0 plus the chains.
    val labels = Dedup.connectedComponentsStars(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    require(labels(hub) == 0L && labels(leaves - 1L) == 0L, "star mislabeled")
    require(labels(1000000L + 499) == 1000000L, "chain mislabeled")

    (1 to 3).foreach { i =>
      maxTaskRows = 0L
      val t0 = System.nanoTime()
      Dedup.connectedComponentsStars(pairs)
        .write.mode("overwrite").format("noop").save()
      println(f"[skew] run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s, " +
        s"max single-task shuffle-read rows = $maxTaskRows")
    }
    spark.stop()
  }
}
