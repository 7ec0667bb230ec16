package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunks of a NORMALIZED (single-spaced, trimmed) text
  * in one JVM pass — native twin of
  * `TextOps.cdcSlices(w, TextOps.cdcStarts(w))` over a pre-split words
  * attribute. The declarative form is a deep higher-order tree
  * (sequence → filter → substring/try_element_at per word, then
  * transform → slice → array_join per chunk) that costs real DRIVER time
  * to analyze/compile in every plan that chunks (CROSSOVER.md "cdc_chunks
  * goes native": corpus-prep stage 5's residue was plan/codegen, not
  * data work) and
  * re-walks the words array per chunk at execution. This expression is
  * one linear scan.
  *
  * Parity contract (pinned in CorpusOpsSpec): a chunk starts at word 0
  * and at every word whose first letter is 's'; chunk j spans words
  * [start(j), start(j+1)) joined by single spaces; a text with no 's'
  * words is one whole-text chunk; the empty string yields one empty
  * chunk — all bit-identical to the declarative form. */
case class CdcChunks(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cdc_chunks expects a string, got $other")
    }

  override def nullSafeEval(textAny: Any): Any = {
    val words = textAny.asInstanceOf[UTF8String].toString.split(" ", -1)
    val chunks = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    val sb = new java.lang.StringBuilder()
    var start = 0
    var i = 1
    while (i <= words.length) {
      if (i == words.length || (words(i).nonEmpty && words(i).charAt(0) == 's')) {
        sb.setLength(0)
        var j = start
        while (j < i) {
          if (j > start) sb.append(' ')
          sb.append(words(j))
          j += 1
        }
        chunks += UTF8String.fromString(sb.toString)
        start = i
      }
      i += 1
    }
    new GenericArrayData(chunks.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}
