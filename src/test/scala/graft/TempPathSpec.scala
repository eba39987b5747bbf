package graft

import org.scalatest.funsuite.AnyFunSuite

/** One temp-path mechanism: every engine file under the JVM temp dir comes
  * from `Connectors.tmp`, which removes its paths at JVM exit, and every
  * build-once directory comes from `Stored.path` over it. A second hand-built
  * `java.io.tmpdir` path is how gate tables once leaked a directory per
  * process and answered from a stale corpus, so the source scan makes one
  * a red bar.
  */
class TempPathSpec extends AnyFunSuite {

  test("sys.props(\"java.io.tmpdir\") appears in src/main only in Connectors.tmp") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = new scala.collection.mutable.ArrayBuffer[String]
    val walk = java.nio.file.Files.walk(root)
    try {
      walk.forEach { p =>
        if (p.toString.endsWith(".scala")) {
          val lines = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).split("\n")
          lines.zipWithIndex.foreach { case (l, i) =>
            if (l.contains("sys.props(\"java.io.tmpdir\")")) hits += s"$p:${i + 1}"
          }
        }
      }
    } finally walk.close()
    val connectors = root.resolve("graft/operators/Connectors.scala")
    val text = new String(java.nio.file.Files.readAllBytes(connectors),
      java.nio.charset.StandardCharsets.UTF_8)
    // Lines of `def tmp` up to its closing brace.
    val start = text.indexOf("def tmp(")
    def lineOf(i: Int) = text.substring(0, i).count(_ == '\n') + 1
    val body = lineOf(start) to lineOf(text.indexOf("\n  }\n", start) + 1)
    val outside = hits.filterNot(h => body.exists(l => h == s"$connectors:$l"))
    assert(hits.size == 1 && outside.isEmpty,
      s"temp paths outside Connectors.tmp — build them with Connectors.tmp or Stored.path:\n" +
        hits.mkString("\n"))
  }
}
