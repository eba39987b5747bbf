package graft

import org.scalatest.funsuite.AnyFunSuite

/** One temp-path mechanism: every engine file under the JVM temp dir comes
  * from `Connectors.tmp`, which removes its paths at JVM exit, and every
  * build-once directory comes from `Stored.path` over it. A second hand-built
  * `java.io.tmpdir` path is how gate tables once leaked a directory per
  * process and answered from a stale corpus, so the source scan makes one
  * a red bar. Tests take their temp dirs from `SparkSpec.tempDir`, a
  * `Connectors.tmp` path, for the same reason: bare JDK temp dirs outlived
  * every run.
  */
class TempPathSpec extends AnyFunSuite {

  /** `file:line` of every line under `root`'s `.scala` files that `matches`. */
  private def hits(root: java.nio.file.Path)(matches: String => Boolean): Seq[String] = {
    val found = new scala.collection.mutable.ArrayBuffer[String]
    val walk = java.nio.file.Files.walk(root)
    try {
      walk.forEach { p =>
        if (p.toString.endsWith(".scala")) {
          val lines = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).split("\n")
          lines.zipWithIndex.foreach { case (l, i) => if (matches(l)) found += s"$p:${i + 1}" }
        }
      }
    } finally walk.close()
    found.toSeq
  }

  test("sys.props(\"java.io.tmpdir\") appears in src/main only in Connectors.tmp") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = hits(root)(_.contains("sys.props(\"java.io.tmpdir\")"))
    val connectors = root.resolve("graft/operators/Connectors.scala")
    val text = new String(java.nio.file.Files.readAllBytes(connectors),
      java.nio.charset.StandardCharsets.UTF_8)
    // Lines of `def tmp` up to its closing brace.
    val start = text.indexOf("def tmp(")
    def lineOf(i: Int) = text.substring(0, i).count(_ == '\n') + 1
    val body = lineOf(start) to lineOf(text.indexOf("\n  }\n", start) + 1)
    val outside = found.filterNot(h => body.exists(l => h == s"$connectors:$l"))
    assert(found.size == 1 && outside.isEmpty,
      s"temp paths outside Connectors.tmp — build them with Connectors.tmp or Stored.path:\n" +
        found.mkString("\n"))
  }

  test("src/test makes no JDK temp file or dir: SparkSpec.tempDir is the one helper") {
    val bare = "\\bcreateTemp(Directory|File)\\s*\\(".r
    val found = hits(java.nio.file.Paths.get("src/test/scala"))(bare.findFirstIn(_).isDefined)
    assert(found.isEmpty,
      s"JDK temp paths are never deleted — use SparkSpec.tempDir:\n" + found.mkString("\n"))
  }
}
