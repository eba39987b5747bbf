package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-based versioned tables: append-only snapshots with time-travel
  * reads — the MVCC mechanic every lakehouse table format (Delta, Iceberg,
  * Hudi) is built on, reduced to its engine-relevant core.
  *
  * Layout: data files live flat under the table dir, written once and NEVER
  * rewritten; each commit writes its new files into a fresh `v<N>/`
  * subdirectory and then a manifest `_v<N>.manifest` listing EVERY data
  * directory composing that snapshot (previous version's listing + the new
  * one). A reader resolves a version by reading one tiny manifest and
  * scanning exactly the listed directories — so:
  *
  *  - snapshot isolation is structural: a v0 reader never sees v1 files
  *    because it never lists the table dir, only its manifest's entries
  *    (concurrent appends can't tear a read);
  *  - commits are atomic at the filesystem level: the manifest write is the
  *    commit point, data files written before it are invisible until it
  *    lands (a crashed append leaves orphan files, never a torn table);
  *  - time travel is O(1) metadata: any historical snapshot stays readable
  *    for free until its files are vacuumed.
  *
  * At 100 TB the manifest would list files (with stats for pruning) rather
  * than directories and live in a metastore/log — the read path (resolve
  * manifest → scan exactly those files) is identical. Reference scope: the
  * reference engine writes flat output files with no versioning
  * (`mr_tasks.h:66-77`); this is a north-star extension.
  */
object Versioned {

  /** Commit `df` as the next version of the table at `dir`; returns the new
    * version number. Version 0 creates the table.
    */
  def append(df: DataFrame, dir: String): Int = commit(df, dir, carryForward = true)

  /** Commit `df` as the next version whose manifest lists ONLY the new data
    * — a rewrite commit (compaction, clustering, codec migration of a
    * versioned table). Prior versions stay readable until [[vacuum]]ed;
    * after a replace, their data dirs are no longer referenced by newer
    * manifests and become reclaimable.
    */
  def replace(df: DataFrame, dir: String): Int = commit(df, dir, carryForward = false)

  private def commit(df: DataFrame, dir0: String, carryForward: Boolean): Int = {
    val dir = canon(dir0)
    val v = latest(dir).map(_ + 1).getOrElse(0)
    val dataDir = s"$dir/v$v"
    // A data dir past the last manifest is an orphan from a crashed commit
    // (files land before the manifest): never visible to any reader, safe
    // to clear — this IS the crash-recovery story of manifest commits.
    val orphan = new java.io.File(dataDir)
    if (orphan.exists()) org.apache.commons.io.FileUtils.deleteDirectory(orphan)
    df.write.mode("errorifexists").parquet(dataDir)
    val prev: Seq[String] =
      if (v == 0 || !carryForward) Seq.empty
      else readManifest(dir, v - 1)
    writeManifest(dir, v, prev :+ dataDir)
    v
  }

  /** Retention cleanup: keep the newest `keep` versions, drop older
    * manifests, and delete every data directory no surviving manifest
    * references (old pre-replace data, plus any crashed-commit orphans).
    * Returns the deleted data-dir paths. Append-only histories share all
    * their data with the latest version, so vacuum reclaims bytes exactly
    * when [[replace]] commits have rewritten data — the
    * compact-then-vacuum loop every lakehouse runs. Time travel to a
    * vacuumed version correctly fails (its manifest is gone).
    */
  def vacuum(dir0: String, keep: Int = 1): Seq[String] = {
    require(keep >= 1, "must keep at least the latest version")
    val dir = canon(dir0)
    val lv = latest(dir).getOrElse(return Seq.empty)
    val keepFrom = math.max(0, lv - keep + 1)
    // Canonicalize both sides of the membership test: manifests written
    // through a different-but-equivalent path form of the same dir
    // (trailing slash, relative vs absolute) must still protect their data.
    val referenced = (keepFrom to lv).flatMap(v => readManifest(dir, v)).map(canon).toSet
    (0 until keepFrom).foreach(v => Files.deleteIfExists(manifestPath(dir, v)))
    val dataDirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    val doomed = dataDirs.filter(d => !referenced.contains(canon(d.getPath)))
    doomed.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    doomed.map(d => s"$dir/${d.getName}").toSeq
  }

  /** Canonical path form — commits and vacuum must agree on identity even
    * when callers mix trailing-slash / relative / symlinked forms.
    */
  private def canon(p: String): String = new java.io.File(p).getCanonicalPath

  /** Read the table as of version `v` (time travel), with the schema
    * stored once per listing of that version's manifest: a committed
    * manifest and the data it lists never change, so a repeat read infers
    * no schema.
    */
  def readVersion(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val dirs = readManifest(dir, v)
    val schema = Stored.schema(manifestPath(dir, v).toString, spark)(
      spark.read.parquet(dirs: _*).schema)
    spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Read the latest committed version. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, latest(dir).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $dir")))

  /** Highest committed version at `dir`, if any — resolved from manifests
    * only (data directories without a manifest are uncommitted).
    */
  def latest(dir: String): Option[Int] = {
    val names = Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
    val vs = names.collect {
      case n if n.startsWith("_v") && n.endsWith(".manifest") =>
        n.stripPrefix("_v").stripSuffix(".manifest").toInt
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  private def manifestPath(dir: String, v: Int) = Paths.get(s"$dir/_v$v.manifest")

  /** Manifest codec: one data-dir path per line. Deliberately NOT
    * hand-rolled JSON — the commit protocol's own metadata must have a
    * codec with no escaping ambiguity (a quote/backslash sequence in a
    * path corrupting the manifest would be a silent data-integrity hole).
    * Newlines are the one reserved character, rejected at commit time.
    */
  private def writeManifest(dir: String, v: Int, dataDirs: Seq[String]): Unit = {
    require(dataDirs.forall(p => !p.contains("\n") && !p.contains("\r")),
      "newlines in table paths are not supported")
    Files.writeString(manifestPath(dir, v), dataDirs.mkString("\n"))
  }

  private def readManifest(dir: String, v: Int): Seq[String] = {
    val raw = Files.readString(manifestPath(dir, v))
    if (raw.isEmpty) Seq.empty else raw.split("\n").toSeq
  }

  /** The mt_vacuum_read gate table: two appends, a compaction [[replace]]
    * and [[vacuum]](keep = 1), built once per corpus fingerprint through
    * [[Stored.path]]; the post-build invariant is exactly one surviving
    * version.
    */
  private[graft] def vacuumedTable(s: SparkSession, dir: String): String =
    Stored.path("mt_vacuum_read", dir, s) { tdir =>
      val orders = ordersSlice(s, dir)
      append(orders.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")), tdir)
      append(orders.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")), tdir)
      replace(read(s, tdir).coalesce(4), tdir) // the compaction rewrite
      vacuum(tdir, keep = 1)
      require(latest(tdir).contains(2) && !Files.exists(manifestPath(tdir, 0)),
        s"vacuum gate expected one surviving version at $tdir")
    }

  private def ordersSlice(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Time travel on the gate: commit orders-before-1998 as v0, append the
    // 1998+ rows as v1, then answer the same per-status aggregate AS OF
    // each version from the manifests alone. The v0 numbers are computed
    // AFTER v1's files landed in the same table — equality with the
    // date-filtered oracle proves snapshot isolation, not just storage
    // round-tripping. The table is built once per corpus fingerprint
    // ([[Stored.path]]); repeat invocations measure the steady state
    // (manifest resolve + scan), like the bucketed-layout gate.
    "mt_time_travel" -> { (s, dir) =>
      val tdir = Stored.path("mt_time_travel", dir, s) { p =>
        val orders = ordersSlice(s, dir)
        append(orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")), p)
        append(orders.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp")), p)
      }
      def agg(v: Int): DataFrame =
        readVersion(s, tdir, v)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            graft.operators.Relational.dsum(col("o_totalprice")).as("total_price"))
          .select(lit(v).as("version"), col("o_orderstatus"), col("n_orders"), col("total_price"))
      agg(0).unionByName(agg(1)).orderBy("version", "o_orderstatus")
    },

    // The compact-then-vacuum retention loop ON the gate: append two
    // versions, REPLACE with a rewritten (coalesced) full copy — the
    // compaction commit whose manifest references only the new data — then
    // VACUUM(keep = 1), which deletes the v0/v1 manifests and every data
    // directory no surviving manifest references. The query reads what
    // remains; its oracle is the plain orders aggregate, so the hash match
    // proves vacuum deleted ONLY unreferenced bytes and the surviving
    // snapshot is bit-identical — the reclaim-without-corruption contract
    // every lakehouse retention job must satisfy (structural deletion
    // effects — manifests gone, time travel failing, dirs removed — are
    // asserted in VersionedSpec; the gate pins the data integrity half).
    "mt_vacuum_read" -> { (s, dir) =>
      read(s, vacuumedTable(s, dir))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          graft.operators.Relational.dsum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }
  )

  val oracles: Map[String, String] = Map(
    "mt_time_travel" ->
      """SELECT 0 AS version, o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 1, o_orderstatus, COUNT(*),
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY version, o_orderstatus""".stripMargin,
    // Vacuum-read twin: the plain aggregate — equality proves the
    // append → replace → vacuum chain preserved the referenced snapshot.
    "mt_vacuum_read" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
