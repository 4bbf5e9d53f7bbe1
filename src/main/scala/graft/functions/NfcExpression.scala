package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Expression (SURVEY.md §2.10/§2.11
  * — the canonicalization step every multilingual text pipeline runs before
  * hashing/dedup: 'e' + U+0301 and the precomposed 'é' are the SAME text,
  * and unnormalized corpora silently split their token statistics and dodge
  * exact-dedup keys across sources that decompose differently).
  *
  * Spark ships no normalization function; this wraps the JDK's
  * `java.text.Normalizer` (canonical composition, Form.NFC) in a
  * codegen-friendly unary Expression — the generated code calls the static
  * normalizer directly, no UDF/serialization boundary. q377 oracle-checks
  * it against DuckDB's independent `nfc_normalize` (utf8proc) — a
  * cross-implementation equivalence proof, the q301 Jaro-Winkler pattern.
  *
  * Scale note: a per-row projection inside whole-stage codegen; the fast
  * path for already-NFC ASCII corpora is `Normalizer.isNormalized`'s
  * quick-check (no allocation for the common case). */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) {
      input
    } else {
      UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val str = ctx.freshName("str")
      s"""
         |final String $str = $s.toString();
         |if (java.text.Normalizer.isNormalized($str, java.text.Normalizer.Form.NFC)) {
         |  ${ev.value} = $s;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($str, java.text.Normalizer.Form.NFC));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcExpression {

  /** `graft_nfc(str)` as a Column. */
  def nfc(str: Column): Column = SqlFunctions("graft_nfc", str)
}
