package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFKD normalization as a native, codegen'd kernel
  * (`Kernels.nfkd_normalize`).
  *
  * The reference applies `unicodedata.normalize("NFKD", s)` as the first
  * step of every clean_string clone (/root/reference/extract-info/
  * ExtractInfo.py:160). Spark has no builtin for it; a Scala UDF would
  * break whole-stage codegen in the hottest projection of the pipeline,
  * so it runs as a static evaluator that the generic [[Kernel]] expression
  * calls from generated code (SURVEY.md §7.3).
  */
object NfkdNormalize {
  /** Static so generated code can call it. ASCII fast path: NFKD is the
    * identity on pure-ASCII strings, and `UTF8String.isFullAscii` avoids
    * materializing a java.lang.String for the (dominant) clean case.
    */
  def normalize(s: UTF8String): UTF8String = {
    if (s.isFullAscii) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFKD))
  }
}
