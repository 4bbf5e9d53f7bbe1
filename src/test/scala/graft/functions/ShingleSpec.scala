package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Gate for the native 3-gram shingle-set kernel: it must equal the
  * declarative `array_sort(array_distinct(transform(...)))` form it
  * replaces, element for element and in order, on the smoke corpus and on
  * texts that stress the byte-offset split (empty tokens, leading/trailing
  * spaces, repeats, multi-byte characters, case order, non-space blanks). */
class ShingleSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  test("ShingleSet3 equals array_sort(array_distinct(3-gram shingles of split(text, ' ')))") {
    import spark.implicits._
    val edge = Seq("", "a", "a b", "a b c", "a  b c", " a b", "a b ", "  ", "   ",
      "x y x y x y x", "é ü 字 ü é 字", "B a b A a B", "a\tb c d", "z y x w v u")
      .zipWithIndex.map { case (t, i) => (-1L - i, t) }
    val docs = graft.sources.Tables.documents(spark, sf).select($"doc_id", $"text")
      .union((edge :+ ((-100L, null: String))).toDF("doc_id", "text"))
    val t = split($"text", " ")
    val rows = docs.select($"doc_id", $"text",
        size(t).as("n"),
        ShingleExpression.shingleSet($"text").as("got"),
        when(size(t) >= 3, array_sort(array_distinct(transform(sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", slice(t, i, lit(3))))))).as("want"))
      .collect()
    assert(rows.length > edge.length + 1)
    for (r <- rows) {
      val id = r.getLong(0)
      if (r.isNullAt(1)) assert(r.isNullAt(3), "null text must yield null")
      else if (r.getInt(2) < 3) assert(r.getSeq[String](3).isEmpty, s"doc $id: < 3 tokens")
      else assert(r.getSeq[String](3) === r.getSeq[String](4), s"doc $id shingle set mismatch")
    }
  }
}
