package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram STRING emitter: lowercases, splits on spaces, and
  * returns the space-joined consecutive n-token windows — the corpus
  * n-gram statistics inner loop in one expression evaluation per row.
  * It is the one word n-gram construction under `operators/` (text
  * statistics, repetition, decontamination, winnowing and the
  * duplicated-span scan); StructureSpec fails on a hand-written window.
  *
  * Same rationale as [[ShingleHashes]]: the composable form
  * (`transform(sequence(...), i -> array_join(slice(...)))`) runs
  * interpreted per ELEMENT — ~300 boxed lambda invocations per document,
  * 2× slower on `q_text_ngrams` at sf0.1. Unlike [[ShingleHashes]] this
  * variant keeps the actual strings (reporting/oracle-comparable), not
  * hashed equality tokens.
  *
  * Token semantics are `TextFns.tokens` (`split(lower(text), ' ')`) /
  * DuckDB `string_split(lower(text), ' ')` exactly (limit -1 keeps
  * leading and trailing empties; LlmOpsSpec checks it as a property),
  * so SQL oracles replay it verbatim. Fewer than `n` tokens ⇒ empty
  * array; null text ⇒ null. Registered as SQL `word_ngrams(text, n)` by
  * [[Functions.registerAll]].
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, "n-gram size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toLowerCase.toString
    val tokens = text.split(" ", -1)
    if (tokens.length < n) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](tokens.length - n + 1)
    val sb = new java.lang.StringBuilder
    var s = 0
    while (s < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(s + j))
        j += 1
      }
      out(s) = UTF8String.fromString(sb.toString)
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  /** Column API: `word_ngrams(text, n)`. */
  def apply(text: Column, n: Int): Column =
    call_function("word_ngrams", text, org.apache.spark.sql.functions.lit(n))
}
