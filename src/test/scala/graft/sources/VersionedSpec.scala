package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VersionedSpec extends SparkSpec {

  private def freshDir(): String = SparkSpec.tempDir("graft_versioned_spec").toAbsolutePath.toString + "/t"

  test("mt_vacuum_read leaves exactly one referenced version on disk") {
    // Run the gate query (builds append+append+replace+vacuum on first
    // touch), then inspect its stored table dir structurally.
    val rows = Versioned.queries("mt_vacuum_read")(spark, sf()).collect()
    assert(rows.nonEmpty)
    val tdir = Versioned.vacuumedTable(spark, sf())
    // Only the replace commit's manifest survives; its data dir is the only
    // version dir left (v0/v1 data became unreferenced and were deleted).
    val names = new java.io.File(tdir).list().toSeq
    assert(names.count(_.endsWith(".manifest")) == 1, s"manifests left: $names")
    assert(names.filter(_.matches("v\\d+")) == Seq("v2"), s"data dirs left: $names")
    // Time travel to a vacuumed version correctly fails.
    intercept[Exception](Versioned.readVersion(spark, tdir, 0).collect())
  }

  test("snapshot isolation: a committed version is immutable under later appends") {
    import spark.implicits._
    val dir = freshDir()
    assert(Versioned.latest(dir).isEmpty)
    assert(Versioned.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir) == 0)
    val v0Before = Versioned.readVersion(spark, dir, 0).collect().map(_.toString).sorted.toSeq
    assert(Versioned.append(Seq((3L, "c")).toDF("id", "s"), dir) == 1)
    val v0After = Versioned.readVersion(spark, dir, 0).collect().map(_.toString).sorted.toSeq
    assert(v0After == v0Before, "v0 must be byte-identical after the v1 commit")
    assert(Versioned.read(spark, dir).count() == 3)
    assert(Versioned.latest(dir).contains(1))
    // time travel reads resolve from manifests, not directory listings
    assert(Versioned.readVersion(spark, dir, 0).count() == 2)
  }

  test("a crashed commit's orphan data dir is invisible and cleared by the next append") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)
    // Simulate a crash: v1 data files land but the manifest never does.
    Seq((99L, "junk")).toDF("id", "s").write.parquet(s"$dir/v1")
    assert(Versioned.latest(dir).contains(0), "uncommitted data must not advance the version")
    assert(Versioned.read(spark, dir).count() == 1, "readers never see uncommitted files")
    // The next commit clears the orphan and lands cleanly.
    assert(Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir) == 1)
    val v1 = Versioned.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(v1 == Set(1L, 2L), s"orphan rows must not leak into the committed table: $v1")
  }

  test("replace + vacuum reclaims rewritten data; survivors stay byte-identical") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)            // v0
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir)            // v1 = v0 + new
    // Rewrite commit: compact the whole table into one new data dir.
    val compacted = Versioned.read(spark, dir).repartition(1)
    assert(Versioned.replace(compacted, dir) == 2)                   // v2 lists only itself
    val v2Before = Versioned.read(spark, dir).collect().map(_.toString).sorted.toSeq
    // Before vacuum: time travel to v1 still works (its manifest + data live).
    assert(Versioned.readVersion(spark, dir, 1).count() == 2)
    val deleted = Versioned.vacuum(dir, keep = 1)
    // v0/v1 data dirs are unreferenced by v2 and must be reclaimed.
    assert(deleted.map(_.split('/').last).toSet == Set("v0", "v1"), s"deleted: $deleted")
    assert(Versioned.latest(dir).contains(2))
    assert(Versioned.read(spark, dir).collect().map(_.toString).sorted.toSeq == v2Before)
    // Vacuumed versions are gone — structurally, not just by convention.
    intercept[Exception](Versioned.readVersion(spark, dir, 1).collect())
  }

  test("vacuum keeps shared data referenced by surviving append-only versions") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.append(Seq((1L, "a")).toDF("id", "s"), dir)            // v0
    Versioned.append(Seq((2L, "b")).toDF("id", "s"), dir)            // v1 references v0's data
    val deleted = Versioned.vacuum(dir, keep = 1)
    // v1's manifest still lists v0's data dir: nothing is reclaimable.
    assert(deleted.isEmpty, s"shared data must survive: $deleted")
    assert(Versioned.read(spark, dir).count() == 2)
  }

  test("gate query answers both versions from one physical table") {
    val df = Versioned.queries("mt_time_travel")(spark, sf())
    val rows = df.collect()
    val byVersion = rows.groupBy(_.getInt(0))
    assert(byVersion.keySet == Set(0, 1))
    // v1 strictly contains v0: every status count can only grow.
    val c0 = byVersion(0).map(r => r.getString(1) -> r.getLong(2)).toMap
    val c1 = byVersion(1).map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(c0.keySet.subsetOf(c1.keySet))
    c0.foreach { case (k, n) => assert(c1(k) >= n, s"status $k shrank: $n -> ${c1(k)}") }
  }
}
