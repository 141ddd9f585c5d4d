package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The full canonical clean chain as ONE codegen'd kernel
  * (`Kernels.clean_text`).
  *
  * The didactic pure-Column version (operators.CleanText.clean) nests ~30
  * regexp_replace nodes into a single projection; the generated method
  * exceeds the JIT's inlining/compilation limits and every step pays a
  * UTF8String↔String round-trip — profiled at ~1 ms/row. This evaluator
  * does one String conversion and runs the statically-compiled pattern
  * chain (graft.rules.Rules.cleanString), ~25× faster, and is pinned equal
  * to the Column version by CleanTextSpec. Like every per-row kernel it is
  * a static method that the one generic [[Kernel]] expression calls from
  * generated code and from `eval`; no kernel needs an Expression class.
  */
object CleanFast {
  def cleanUTF8(s: UTF8String): UTF8String =
    if (s == null) null
    else UTF8String.fromString(graft.rules.Rules.cleanString(s.toString))
}
