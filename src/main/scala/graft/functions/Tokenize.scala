package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** M1 tokenizer as a regex-free kernel (`Kernels.letter_runs`): lowercase + maximal [a-z]+
  * runs — the exact output of MLlib's
  * RegexTokenizer(pattern="[a-z]+", gaps=false, toLowercase=true,
  * minTokenLength=1), which ran java.util.regex per turn inside the
  * tagger's hottest stage (this host's intra-JVM regex collapse,
  * BENCH_SCALING.md). Differentially pinned to RegexTokenizer by
  * TaggerSpec. Tokenization happens in SectionTagger.prepare (outside the
  * persisted PipelineModel), so saved models keep only standard stages.
  */
object TokenizeEvals {
  /** String-level tokenizer — single source of truth shared by the
    * `letterRuns` kernel and the compiled tagger serve (TaggerServe.scala).
    */
  def letterRunsStr(s: String): Array[String] = {
    val str = s.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val len = str.length
    var i = 0
    while (i < len) {
      val c = str.charAt(i)
      if (c >= 'a' && c <= 'z') {
        var j = i + 1
        while (j < len && str.charAt(j) >= 'a' && str.charAt(j) <= 'z') j += 1
        out += str.substring(i, j)
        i = j
      } else i += 1
    }
    out.toArray
  }

  def letterRuns(s: UTF8String): ArrayData =
    new GenericArrayData(
      letterRunsStr(s.toString).map(UTF8String.fromString).toArray[Any])
}
