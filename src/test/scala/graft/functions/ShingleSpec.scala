package graft.functions

import org.apache.spark.sql.functions.call_function
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Gate for the native word-n-gram kernel: for every gram length the
  * engine uses, both outputs must equal the declarative forms they
  * replace, element for element and in order — `transform(sequence(...),
  * i -> concat_ws(' ', slice(t, i, n)))` and its
  * `array_sort(array_distinct(...))` — on the smoke corpus and on texts
  * that stress the byte-offset split (empty tokens, leading/trailing
  * spaces, repeats, multi-byte characters, case order, non-space blanks). */
class ShingleSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.functions._

  for (n <- Seq(2, 3, 5, 8))
    test(s"n = $n: wordNgrams and shingleSet equal the transform(sequence(...)) forms over split(text, ' ')") {
      import spark.implicits._
      val edge = Seq("", "a", "a b", "a b c", "a  b c", " a b", "a b ", "  ", "   ",
        "x y x y x y x", "é ü 字 ü é 字", "B a b A a B", "a\tb c d", "z y x w v u",
        "a b c d e f g h", " a  b c d e f g h ", "p q p q p q p q p q p q")
        .zipWithIndex.map { case (t, i) => (-1L - i, t) }
      val docs = graft.sources.Tables.documents(spark, sf).select($"doc_id", $"text")
        .union((edge :+ ((-100L, null: String))).toDF("doc_id", "text"))
      val t = split($"text", " ")
      val hof = transform(sequence(lit(1), size(t) - n + 1), i => concat_ws(" ", slice(t, i, lit(n))))
      val rows = docs.select($"doc_id", $"text", size(t).as("tokens"),
          ShingleExpression.wordNgrams($"text", n).as("grams"),
          ShingleExpression.shingleSet($"text", n).as("set"),
          when(size(t) >= n, hof).as("want_grams"),
          when(size(t) >= n, array_sort(array_distinct(hof))).as("want_set"))
        .collect()
      assert(rows.length > edge.length + 1)
      assert(rows.exists(r => !r.isNullAt(1) && r.getInt(2) >= n), s"no text has $n tokens")
      for (r <- rows) {
        val id = r.getLong(0)
        if (r.isNullAt(1)) assert(r.isNullAt(3) && r.isNullAt(4), "null text must yield null")
        else if (r.getInt(2) < n)
          assert(r.getSeq[String](3).isEmpty && r.getSeq[String](4).isEmpty, s"doc $id: < $n tokens")
        else {
          assert(r.getSeq[String](3) === r.getSeq[String](5), s"doc $id n-gram mismatch")
          assert(r.getSeq[String](4) === r.getSeq[String](6), s"doc $id shingle set mismatch")
        }
      }
    }

  test("the gram length must be a positive integer literal") {
    val s = spark.newSession()
    SqlFunctions.register(s)
    val df = s.range(1).select(lit("a b c").as("text"), lit(2).as("k"))
    for (name <- Seq("graft_word_ngrams", "graft_shingle_set"); bad <- Seq(col("k"), lit(0), lit(-1), lit(2L))) {
      val e = intercept[Exception](df.select(call_function(name, col("text"), bad)).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(s"$name(text, n) expects n as a positive integer literal")),
        s"$name with n = $bad: ${e.getMessage}")
    }
    for (bad <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](ShingleExpression.wordNgrams(col("text"), bad))
      assert(e.getMessage.contains("positive integer literal"), e.getMessage)
    }
    assert(df.select(call_function("graft_word_ngrams", col("text"), lit(2))).head().getSeq[String](0) ===
      Seq("a b", "b c"))
  }
}
