package org.apache.spark.sql.graft

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: per document, how often each term of a
  * driver-known list occurs among the document's BM25 tokens, as an
  * `array<int>` aligned with `terms`.
  *
  * Equal to exploding `TextFunctions.tokenizeBm25(text)` and counting
  * the tokens equal to each term: the tokenizer below runs the same
  * split / trim / length / lower / junk steps with the same patterns
  * ([[Bm25TermCounts.SplitRegex]] and friends are the single source
  * `tokenizeBm25` builds its column from), `length` counting code
  * points and `lower` going through the same collation-support call
  * with the same ICU switch. A term that the tokenizer can never emit
  * (upper case, a junk token) simply counts 0. NULL text is NULL.
  *
  * Where the explode form shuffles every (doc, term) pair of the
  * corpus before a query's handful of terms is selected, this
  * expression keeps only the query's counts inside the scan. The term
  * positions reach generated code as a reference object, so the
  * generated class does not depend on the terms.
  *
  * Terms are a constructor parameter, so the function is Column-API
  * only — not registered for SQL.
  */
case class Bm25TermCounts(child: Expression, terms: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  require(terms.distinct.length == terms.length, "terms must be distinct")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_bm25_term_counts"

  @transient private lazy val positions = Bm25TermCounts.positions(terms)
  // read where lower() reads it: on first use, from the active conf
  @transient private lazy val useIcu = Bm25TermCounts.icuCaseMappings

  override protected def nullSafeEval(input: Any): Any =
    Bm25TermCounts.compute(input.asInstanceOf[UTF8String], positions, useIcu)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = Bm25TermCounts.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val idx = ctx.addReferenceObj("bm25Terms", positions, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $helper.compute($s, $idx, $useIcu);")
  }

  override protected def withNewChildInternal(newChild: Expression): Bm25TermCounts =
    copy(child = newChild)
}

object Bm25TermCounts {

  /** Split characters: whitespace plus (){}[]<>;:,."'`~!@#$%^&*+=|\ */
  val SplitRegex: String = """[\s(){}\[\]<>;:,."'`~!@#$%^&*+=|\\]+"""
  /** Leading and trailing `-_/` runs are trimmed from each piece. */
  val TrimRegex: String = "^[-_/]+|[-_/]+$"
  /** Lower-cased tokens matching any of these (find semantics, like
    * `rlike`) are junk: hex hashes, versions, paths, hex literals,
    * digits (bm25.rs:16-55). */
  val JunkRegexes: Seq[String] = Seq(
    "^[a-f0-9]{8,}$", "^v?[0-9]+\\.[0-9]+", "[/\\\\]", "^0x[a-f0-9]+$", "^[0-9]+$")

  private val splitPattern = Pattern.compile(SplitRegex)
  private val trimPattern = Pattern.compile(TrimRegex)
  private val junkPatterns = JunkRegexes.map(r => Pattern.compile(r)).toArray

  /** `spark.sql.icu.caseMappings.enabled` of the active conf — the
    * switch Spark's `lower` reads. */
  def icuCaseMappings: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  /** term → its position in the output array */
  def positions(terms: Seq[String]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    terms.zipWithIndex.foreach { case (t, i) => m.put(t, Int.box(i)) }
    m
  }

  private def isJunk(t: String): Boolean = {
    var i = 0
    while (i < junkPatterns.length) {
      if (junkPatterns(i).matcher(t).find()) return true
      i += 1
    }
    false
  }

  /** The BM25 tokens of `text` in order, handed to `emit` one by one. */
  private def foreachToken(text: UTF8String, useIcu: Boolean)(emit: String => Unit): Unit = {
    val pieces = splitPattern.split(text.toString, -1)
    var p = 0
    while (p < pieces.length) {
      val piece = pieces(p)
      // the trim pattern can only match when one of its characters occurs
      val trimmed =
        if (piece.indexOf('-') < 0 && piece.indexOf('_') < 0 && piece.indexOf('/') < 0) piece
        else trimPattern.matcher(piece).replaceAll("")
      if (trimmed.codePointCount(0, trimmed.length) > 1) {
        val lowered = CollationSupport.Lower.exec(UTF8String.fromString(trimmed),
          CollationFactory.UTF8_BINARY_COLLATION_ID, useIcu).toString
        if (!isJunk(lowered)) emit(lowered)
      }
      p += 1
    }
  }

  /** The BM25 tokens of a driver-held string, under the active conf's
    * case mapping — the query-side twin of `TextFunctions.tokenizeBm25`. */
  def tokenize(text: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    foreachToken(UTF8String.fromString(text), icuCaseMappings)(out += _)
    out.toSeq
  }

  /** Per-term counts of one document; also the codegen target. */
  def compute(text: UTF8String, positions: java.util.HashMap[String, Integer],
              useIcu: Boolean): ArrayData = {
    val counts = new Array[Int](positions.size)
    foreachToken(text, useIcu) { t =>
      val pos = positions.get(t)
      if (pos != null) counts(pos) += 1
    }
    new GenericArrayData(counts)
  }
}
