package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Kernels.nfkd_normalize
import graft.sources.Dims

/** The canonical clean_string chain (SURVEY §2.2 F3) as a pure Column
  * pipeline — UDF-free, whole-stage-codegen friendly. Semantics:
  * /root/reference/extract-info/ExtractInfo.py:154-207 (the clone that
  * feeds extraction), pinned by the differential property test against
  * Rules.cleanString. The reference recompiles its regexes per row
  * (SURVEY §4); here Catalyst compiles each pattern once per task.
  */
object CleanText {

  // literal-string replace (codegen'd); `replace` is not exposed as a Scala
  // function helper for all Spark builds, so go through expr-free call:
  private def replaceLit(c: Column, search: String, repl: String): Column =
    call_function("replace", c, lit(search), lit(repl))

  def clean(c: Column): Column = {
    var d = nfkd_normalize(c)
    d = trim(d)
    d = regexp_replace(d, "[\\n\\r\\t]", "")
    d = lower(d)
    // single negated charset (see Rules.charsetPattern for the derivation)
    d = regexp_replace(d, "[^-_a-zA-Z0-9!@#%&=,'\";:~`č₽€£$^()+\\[\\].{}|?<>\\s]+", "")
    d = regexp_replace(d, "<[^>]+>", "")
    d = regexp_replace(d, "\\^[a-zA-Z]\\s+", "")
    d = regexp_replace(d, "\\s+", " ")
    d = regexp_replace(d, "^b\\s+", "")
    d = replaceLit(d, "&amp;", "and")
    d = replaceLit(d, "atm", "")
    d = regexp_replace(d, "([a-zA-Z])(\\d+)", "$1 $2")
    d = regexp_replace(d, "\\b[a-zA-Z]\\b", "")
    d = regexp_replace(d, "(\\d+)(k)", "$1000")
    d = regexp_replace(d, "(?<=\\d),(?=\\d{3})", "")
    d = replaceLit(d, "euro ", "€")
    d = replaceLit(d, "eur ", "€")
    d = replaceLit(d, "dollar ", "$")
    d = replaceLit(d, "usd ", "$")
    d = regexp_replace(d, "(\\d+) (€)", "€ $1")
    d = regexp_replace(d, "(\\d+)(€)", "€ $1")
    d = regexp_replace(d, "(\\d+) (\\$)", "\\$ $1")
    d = regexp_replace(d, "(\\d+)(\\$)", "\\$ $1")
    d = regexp_replace(d, "(\\d+) (£)", "£ $1")
    d = regexp_replace(d, "(\\d+)(£)", "£ $1")
    d = regexp_replace(d, "(?<=\\d{4})-(?=\\d{4})", " to ")
    d = regexp_replace(d, "[!\"#;<=>?@\\[\\\\\\]^`{|}~]", "")
    // lemmatize via broadcast-literal map; python's no-arg split() collapses
    // whitespace runs, hence the empty-token filter
    val toks = filter(split(d, "\\s+"), t => t =!= lit(""))
    array_join(transform(toks, t => coalesce(element_at(typedlit(Dims.lemmas), t), t)), " ")
  }
}
