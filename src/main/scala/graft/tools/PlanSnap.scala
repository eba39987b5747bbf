package graft.tools

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.regex.Pattern
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: plan identity. Writes each named query's `.explain("formatted")`
  * text, normalised, to `<outDir>/<name>.txt`, and `<outDir>/fingerprints.tsv`:
  * one `name<TAB>hash` line per query, sorted by name, the hash being the
  * first 16 hex digits of that text's SHA-256. No query list means every
  * query. The session is always `local[4]`, since partition counts follow the
  * core count. Plans are built, not run; with `exec` each query is collected
  * first, so the text carries the AQE final plan.
  *
  * Check: `PlanSnap <dir> <sf0.01 dir>`, then `diff plans/fingerprints.tsv
  * <dir>/fingerprints.tsv`; `diff -r` two output dirs shows what moved.
  * Usage: PlanSnap <outDir> <sfDir> [q1,q2,...] [exec]
  */
object PlanSnap {

  /** `plan` without what varies by run, host, pid, checkout dir or corpus
    * mtime: expression and codegen ids are renumbered in order of first
    * appearance; plan, RDD and query-stage ids, call-site line numbers, JVM
    * lambda and object addresses and the bucketed gate tables' corpus hash
    * become `N`; the `Connectors.tmp` prefix (temp dir, pid, counter),
    * `corpus` and the working dir become `<tmp>/`, `<corpus>` and `<cwd>`.
    */
  private[graft] def normalise(plan: String, corpus: String): String = {
    def abs(dir: String) = Paths.get(dir).toAbsolutePath.normalize.toString
    val dirs = Seq(abs(corpus) -> "<corpus>", abs(sys.props("user.dir")) -> "<cwd>").sortBy(-_._1.length)
    val located = dirs.foldLeft(plan) { case (s, (d, tag)) => s.replace(d, tag) }
    val stripped = Seq(
      "[^\\s,\\[\\]:]*/graft_roundtrip_\\d+_\\d+_" -> "<tmp>/",
      "(plan_id=|RDD\\[|\\.scala:|QueryStage\\n(?:Output .*\\n)?Arguments: )\\d+" -> "$1N",
      "(Lambda)\\$?\\d*/0x\\p{XDigit}+" -> "$1",
      "(?<=[\\w$])@\\p{XDigit}{1,8}\\b" -> "@N",
      "(bk_gate_(?:lineitem|orders)_)\\p{XDigit}{8}\\b" -> "$1N"
    ).foldLeft(located) { case (s, (re, to)) => s.replaceAll(re, to) }
    Seq("(?<=codegen id : )\\d+", "(?<=#)\\d+").foldLeft(stripped) { (s, re) =>
      val ids = collection.mutable.Map.empty[String, Int]
      Pattern.compile(re).matcher(s).replaceAll(m => ids.getOrElseUpdate(m.group, ids.size + 1).toString)
    }
  }

  private def hash(text: String): String =
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  def main(args: Array[String]): Unit = {
    val listed = args.lift(2).filterNot(_ == "exec")
    val flags = args.drop(2 + listed.size).toSeq
    if (args.length < 2 || !(flags.isEmpty || flags == Seq("exec"))) {
      System.err.println("usage: PlanSnap <outDir> <sfDir> [q1,q2,...] [exec]")
      sys.exit(2)
    }
    val (outDir, sfDir) = (args(0), args(1))
    val exec = flags.nonEmpty
    val names = listed.fold(graft.SparkEntry.queries.keys.toSeq)(_.split(",").toSeq).sorted
    val spark = graft.EngineSession.local("4")
    Files.createDirectories(Paths.get(outDir))
    def snap(name: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // collect(), not a noop write: the write would run its own QueryExecution.
      if (exec) df.collect()
      normalise(df.queryExecution.explainString(ExplainMode.fromString("formatted")), sfDir)
    }
    val lines = names.flatMap { name =>
      try {
        val first = snap(name)
        // Spark orders a distinct-aggregate rewrite's groups (the Expand that
        // adds `gid`) by a hash of their expression ids, which depend on what
        // the JVM built before. Each build draws new ids: keep the least text.
        val txt = if (first.contains(", gid#")) (first +: Seq.fill(15)(snap(name))).min else first
        Files.writeString(Paths.get(outDir, s"$name.txt"), txt)
        Some(s"$name\t${hash(txt)}")
      } catch { case e: Throwable =>
        System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
        None
      }
    }
    Files.writeString(Paths.get(outDir, "fingerprints.tsv"), lines.map(_ + "\n").mkString)
    println(s"[plansnap] wrote $outDir/fingerprints.tsv (${lines.size}/${names.size} queries)")
    spark.stop()
    if (lines.size < names.size) sys.exit(1)
  }
}
