package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {

  test("compaction cuts file count and preserves content exactly") {
    val src = Relational.t(spark, sf(), "documents")
    val frag = SparkSpec.tempDir("mt-frag").toString
    val out = SparkSpec.tempDir("mt-out").toString
    src.repartition(37).write.mode("overwrite").parquet(frag)
    val before = Maintenance.dataFileCount(spark, frag)
    assert(before == 37)

    val target = Maintenance.compact(spark, frag, out, 8L * 1024 * 1024)
    val after = Maintenance.dataFileCount(spark, out)
    assert(after == target, s"wrote $after files, planned $target")
    assert(after < before, "compaction must reduce file count")

    // Content equality, layout-independent.
    val a = src.orderBy("doc_id").collect().map(_.toSeq)
    val b = spark.read.parquet(out).orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("target count follows the byte budget") {
    val frag = SparkSpec.tempDir("mt-frag2").toString
    val out = SparkSpec.tempDir("mt-out2").toString
    Relational.t(spark, sf(), "documents").repartition(10).write.mode("overwrite").parquet(frag)
    // A huge byte budget collapses everything to one file.
    assert(Maintenance.compact(spark, frag, out, Long.MaxValue / 2) == 1)
    assert(Maintenance.dataFileCount(spark, out) == 1)
  }

  test("flat compact sizes from a partitioned tree's real bytes (recursive listing)") {
    val src = Relational.t(spark, sf(), "documents")
    val frag = SparkSpec.tempDir("mt-frag3").toString
    val out = SparkSpec.tempDir("mt-out3").toString
    src.repartition(8).write.mode("overwrite").partitionBy("lang").parquet(frag)
    // The pre-fix listing saw only `lang=*` directories at the top level,
    // summed 0 bytes, and planned n=1 regardless of actual data volume. A
    // 4 KB budget over this corpus must plan several files.
    val n = Maintenance.compact(spark, frag, out, 4L * 1024)
    assert(n > 1, s"recursive listing must see the partition-level bytes (planned $n)")
    assert(Maintenance.dataFileCount(spark, out) == n)
  }

  test("clusterBy produces range-disjoint files; scattered layout overlaps") {
    val src = Relational.t(spark, sf("sf0.01"), "documents")
    val frag = SparkSpec.tempDir("mt-scatter").toString
    val out = SparkSpec.tempDir("mt-clustered").toString
    src.repartition(20).write.mode("overwrite").parquet(frag)

    def fileRanges(dir: String): Seq[(Long, Long)] =
      spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

    def overlaps(rs: Seq[(Long, Long)]): Int =
      rs.sliding(2).count { case Seq((_, hi1), (lo2, _)) => lo2 < hi1; case _ => false }

    // Round-robin scatter: nearly every adjacent file pair overlaps — a
    // zone map on this layout prunes nothing.
    val before = fileRanges(frag)
    assert(before.size == 20)
    assert(overlaps(before) > 10, s"scatter should overlap heavily, got ${overlaps(before)}")

    val n = Maintenance.clusterBy(spark, frag, out, Seq("n_chars", "doc_id"), 16L * 1024)
    assert(n > 1, "budget must plan multiple files for the disjointness claim to bite")
    val after = fileRanges(out)
    // Range repartition assigns equal keys to one partition: every file
    // covers a disjoint n_chars range (boundaries may touch, never cross),
    // so a range predicate prunes to the matching files from stats alone.
    assert(overlaps(after) == 0, s"clustered files must be range-disjoint, got $after")

    // Content survives the rewrite.
    val a = src.orderBy("doc_id").collect().map(_.toSeq)
    val b = spark.read.parquet(out).orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)

    // And the zone maps actually SKIP: the same selective range predicate
    // emits far fewer rows from the clustered scan (row-group stats prune
    // non-matching files) than from the scattered one, where every file's
    // range spans the domain and nothing can be skipped.
    def scanRows(dir: String): Long = {
      val df = spark.read.parquet(dir).filter(col("n_chars").between(150, 300))
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      scan.metrics("numOutputRows").value
    }
    val scattered = scanRows(frag)
    val clustered = scanRows(out)
    assert(clustered < scattered / 2,
      s"clustered scan should skip most rows: clustered=$clustered scattered=$scattered")
  }

  test("partitioned compact preserves the lang=* layout and bounds files per partition") {
    val src = Relational.t(spark, sf(), "documents")
    val frag = SparkSpec.tempDir("mt-pfrag").toString
    val out = SparkSpec.tempDir("mt-pout").toString
    src.repartition(8).write.mode("overwrite").partitionBy("lang").parquet(frag)
    val langs = src.select("lang").distinct().collect().map(_.getString(0)).toSet

    val k = Maintenance.compactPartitioned(spark, frag, out, "lang", 4L * 1024)
    // The tree is NOT collapsed: every lang partition directory survives.
    val dirs = Maintenance.partitionDirs(spark, out).toSet
    assert(dirs == langs.map(l => s"lang=$l"), s"expected one dir per lang, got $dirs")
    // Per-partition file count respects the bound and the whole table was
    // not collapsed into a single file.
    for (d <- dirs) {
      val c = Maintenance.dataFileCount(spark, s"$out/$d")
      assert(c >= 1 && c <= k, s"$d has $c files, bound $k")
    }
    assert(Maintenance.dataFileCount(spark, out) > 1, "partitioned tree must not collapse to one file")
    // Fewer files than the fragmented input overall.
    assert(Maintenance.dataFileCount(spark, out) < Maintenance.dataFileCount(spark, frag))

    // Content equality with the original, layout-independent.
    val a = src.select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = spark.read.parquet(out).select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)

    // And the compacted tree still partition-prunes: a lang filter must
    // become a planning-time PartitionFilter on the scan, which a flat
    // rewrite (the pre-fix failure mode) could never satisfy.
    val pruned = spark.read.parquet(out).filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.references.map(_.name).toSeq.contains("lang")),
      s"expected lang in partitionFilters, got ${scan.partitionFilters}")
  }

  test("partitioned compact on a SKEWED tree does not shatter small partitions") {
    val src = Relational.t(spark, sf(), "documents")
    val frag = SparkSpec.tempDir("mt-skew-frag").toString
    val out = SparkSpec.tempDir("mt-skew-out").toString
    // Skewed layout: 'en' is the whole corpus (many fragments), every other
    // lang a single tiny fragment.
    graft.sources.Formats.writePartitioned(
      src.withColumn("lang", when(col("doc_id") % 10 =!= 0, "en").otherwise(col("lang")))
        .repartition(16),
      frag, "lang")
    val k = Maintenance.compactPartitioned(spark, frag, out, "lang", 32L * 1024)
    assert(k > 1, "the big partition must plan multiple files for skew to be visible")
    // A single largest-directory modulus would spread every small lang
    // across ~k files; the per-value modulus must keep them at 1.
    for (d <- Maintenance.partitionDirs(spark, out) if d != "lang=en") {
      val c = Maintenance.dataFileCount(spark, s"$out/$d")
      assert(c == 1, s"$d shattered into $c files (k=$k)")
    }
    // Content preserved.
    val a = spark.read.parquet(frag).select("doc_id", "text", "source", "n_chars")
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = spark.read.parquet(out).select("doc_id", "text", "source", "n_chars")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("recompress writes the requested codec and smaller files") {
    val src = Relational.t(spark, sf(), "documents")
    val snappy = SparkSpec.tempDir("mt-snappy").toString
    val zstd = SparkSpec.tempDir("mt-zstd").toString
    src.repartition(4).write.mode("overwrite").parquet(snappy)
    Maintenance.recompress(spark, snappy, zstd, "zstd", 64L * 1024)

    def files(dir: String) = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files(snappy).forall(_.getName.contains(".snappy.")), "fixture must start on snappy")
    assert(files(zstd).nonEmpty && files(zstd).forall(_.getName.contains(".zstd.")),
      s"recompressed files must carry the zstd codec: ${files(zstd).map(_.getName).toSeq}")
    assert(files(zstd).map(_.length).sum < files(snappy).map(_.length).sum,
      "zstd should compress this text corpus tighter than snappy")

    val a = src.orderBy("doc_id").collect().map(_.toSeq)
    val b = spark.read.parquet(zstd).orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("zOrderBy skips on BOTH dimensions from parquet stats; content survives") {
    val src = Relational.t(spark, sf(), "documents")
    val frag = SparkSpec.tempDir("mt-zfrag").toString
    val out = SparkSpec.tempDir("mt-zout").toString
    src.repartition(40).write.mode("overwrite").parquet(frag)

    val n = Maintenance.zOrderBy(spark, frag, out, "doc_id", "n_chars", 4L * 1024)
    assert(n > 4, "byte budget must plan several files for the skipping claim to bite")

    // Content survives the curve rewrite.
    val a = src.orderBy("doc_id").collect().map(_.toSeq)
    val b = spark.read.parquet(out).orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)

    def scanRows(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val df = spark.read.parquet(dir).filter(pred)
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      scan.metrics("numOutputRows").value
    }

    // The z-order selling point vs a linear sort: a range predicate on
    // EITHER column alone prunes files/row-groups, because every file
    // covers a bounded rectangle in (doc_id, n_chars) space. On the
    // scattered layout every file spans the whole domain and nothing skips.
    // With ~n files each dimension gets ~log2(n)/2 dyadic splits, so a
    // mid-domain range keeps about half the files per dimension (exactly
    // half here — the curve's split budget, not a bug) and the TWO-dim
    // rectangle prunes multiplicatively.
    val p1 = col("doc_id").between(100, 200)   // ~20% of the x domain
    val p2 = col("n_chars").between(100, 250)  // ~29% of the y domain
    val (z1, s1) = (scanRows(out, p1), scanRows(frag, p1))
    val (z2, s2) = (scanRows(out, p2), scanRows(frag, p2))
    assert(z1 <= s1 / 2, s"x-dim predicate should skip: zordered=$z1 scattered=$s1")
    assert(z2 <= s2 / 2, s"y-dim predicate should skip: zordered=$z2 scattered=$s2")
    val (z12, s12) = (scanRows(out, p1 && p2), scanRows(frag, p1 && p2))
    assert(z12 < s12 / 3, s"rectangle predicate should prune multiplicatively: zordered=$z12 scattered=$s12")
  }

  test("dynamic overwrite replaces only the incoming partitions, bytes-untouched elsewhere") {
    val src = Relational.t(spark, sf(), "documents")
    val tbl = SparkSpec.tempDir("mt-dynover").toString
    src.filter(col("lang") =!= "de" || pmod(col("doc_id"), lit(2)) === 0)
      .write.mode("overwrite").partitionBy("lang").parquet(tbl)

    // Fingerprint every data file before the refresh: (path, size, mtime).
    def files(sub: String): Map[String, (Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(s"$tbl/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val m = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          m(f.getPath.toString) = (f.getLen, f.getModificationTime)
      }
      m.toMap
    }
    val othersBefore = files("lang=en") ++ files("lang=zh")
    val deBefore = files("lang=de")

    Maintenance.dynamicOverwrite(spark, src.filter(col("lang") === "de"), tbl, "lang")

    // Untouched partitions: identical file sets, sizes, and mtimes — the
    // refresh cost is proportional to the changed partition, not the table.
    assert(files("lang=en") ++ files("lang=zh") == othersBefore,
      "dynamic overwrite rewrote partitions it received no data for")
    // The stale partition really was replaced (no stale file survives).
    assert(files("lang=de").keySet.intersect(deBefore.keySet).isEmpty,
      "stale lang=de files survived the overwrite")
    // And the logical state is the original table, exactly.
    val a = src.orderBy("doc_id").select("doc_id", "text", "source", "n_chars")
      .collect().map(_.toSeq)
    val b = spark.read.parquet(tbl).orderBy("doc_id")
      .select("doc_id", "text", "source", "n_chars").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // The session default must be restored (scoped-mode contract).
    assert(!spark.conf.getOption("spark.sql.sources.partitionOverwriteMode").contains("dynamic"))
  }

  test("mt_compact_partitioned equals the direct en/zh documents aggregate") {
    val dir = sf()
    val composed = Maintenance.queries("mt_compact_partitioned")(spark, dir).collect().toSeq
    val direct = Relational.t(spark, dir, "documents")
      .filter(col("lang").isin("en", "zh"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("lang")
      .collect().toSeq
    assert(composed == direct,
      "fragment → compact → report no longer preserves the original content")
  }
}
