package graft.plans

import graft.SparkSpec
import graft.functions.HashFunctions

/** The shared test session is the engine's own (`EngineSession.create`, see
  * SparkSpec), built with `.withExtensions(new GraftExtensions)`, so the
  * engine's native expressions are callable from SQL.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("graft functions are callable from SQL") {
    val out = spark.sql(
      """SELECT graft_fnv64('foobar') AS f,
        |       graft_md5long('a') AS m,
        |       graft_seqdot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       graft_shingles('a b c d') AS sh""".stripMargin
    ).head()
    assert(out.getLong(0) == HashFunctions.fnv64("foobar"))
    assert(out.getLong(1) == 57446577476672362L)
    assert(out.getDouble(2) == 11.0)
    assert(out.getSeq[String](3) == Seq("a b c", "b c d"))
  }

  test("explicit shingle width argument") {
    val out = spark.sql("SELECT graft_shingles('a b c d', 2) AS sh").head()
    assert(out.getSeq[String](0) == Seq("a b", "b c", "c d"))
  }

  test("repetition stats callable from SQL, with and without the width argument") {
    val out = spark.sql(
      "SELECT graft_repetition('a b a b a b') AS r3, graft_repetition('a a a', 2) AS r2").head()
    val r3 = out.getStruct(0)
    assert((r3.getLong(0), r3.getLong(1), r3.getLong(2)) == ((4L, 2L, 2L)))
    val r2 = out.getStruct(1)
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((2L, 1L, 2L)))
  }

  test("winnow and quantize functions are callable from SQL") {
    val out = spark.sql(
      """SELECT graft_winnow('a b c d e f g h i j k l', 4, 8) AS fp,
        |       graft_quantize_i8(array(0.6d, -0.8d), 1.0d) AS q""".stripMargin
    ).head()
    val fps = out.getSeq[Long](0)
    assert(fps.nonEmpty && fps == fps.distinct.sorted)
    // floor(0.6*127 + 0.5) = 76; floor(-0.8*127 + 0.5) = floor(-101.1) = -102.
    assert(out.getSeq[Int](1) == Seq(76, -102))
    // Shape params must be integer literals: a fractional one fails loudly.
    val err = intercept[Exception](spark.sql("SELECT graft_winnow('x', 4, 1.5)"))
    assert(err.getMessage.contains("integer literal"))
  }

  test("functions participate in real query plans") {
    val n = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("graft_md5long(text) AS h")
      .filter("h >= 0")
      .count()
    assert(n == 500)
  }
}
