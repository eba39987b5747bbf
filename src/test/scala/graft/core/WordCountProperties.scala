package graft.core

import graft.tasks.WordCount
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the MapReduce semantics (SURVEY.md §5 test plan):
  * merge-associativity of map/shuffle/reduce and tokenizer invariants. Pure
  * JVM — the distributed equivalents are covered by WordCountJobSpec's
  * partition-count invariance test.
  */
object WordCountProperties extends Properties("WordCount") {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
  private val line = Gen.listOf(Gen.frequency(
    8 -> word, 1 -> Gen.const(","), 1 -> Gen.const("'")
  )).map(_.mkString(" "))
  private val lines = Gen.listOf(line)

  private def wc(ls: Seq[String]): Map[String, Long] =
    ls.flatMap(l => WordCount.map(l).iterator)
      .groupBy(_._1)
      .map { case (k, vs) =>
        val out = WordCount.reduce(k, vs.iterator.map(_._2)).iterator.toList
        k -> out.head._2.toLong
      }

  property("merge associativity: wc(a ++ b) == wc(a) |+| wc(b)") =
    forAll(lines, lines) { (a, b) =>
      val (wa, wb) = (wc(a), wc(b))
      val merged = (wa.keySet ++ wb.keySet).map { k =>
        k -> (wa.getOrElse(k, 0L) + wb.getOrElse(k, 0L))
      }.toMap
      wc(a ++ b) == merged
    }

  property("tokens never contain delimiters and are never empty") =
    forAll(line) { l =>
      WordCount.tokenize(l).forall(t => t.nonEmpty && !t.exists(" ,.\"'".contains(_)))
    }

  property("counts total equals token count") =
    forAll(lines) { ls =>
      wc(ls).values.sum == ls.flatMap(WordCount.tokenize).size
    }

  property("reduce is order-insensitive in its values") =
    forAll(Gen.listOfN(20, Gen.chooseNum(1L, 100L))) { vs =>
      val a = WordCount.reduce("k", vs.map(_.toString).iterator).iterator.toList
      val b = WordCount.reduce("k", vs.reverse.map(_.toString).iterator).iterator.toList
      a == b
    }
}
