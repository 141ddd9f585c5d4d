package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis ops for large-scale training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. Every op is a
  * codegen'd, pushdown-friendly scalar: the hot kernels are native
  * single-pass expressions (ScanExprs/LangExprs — these run over EVERY
  * document, so no regex and no per-row token arrays), each with its
  * original Column formulation kept as a fuzz-pinned `*Column`/`*Regex`
  * differential twin. Each op also has a DuckDB-SQL twin generated from
  * the SAME constants (see `*Sql` below) so the driver's oracle verifies
  * value-exact equivalence against an independent engine.
  */
object TextAnalysis {

  // language marker words (tiny deterministic profiles; the semantic shape
  // of the reference's remote language detect, SURVEY §2.2 F7, re-expressed
  // as a local n-gram/stopword heuristic). Constants live in LangEvals so
  // the native kernels, the Column twins, and the DuckDB SQL twins all
  // embed the SAME values.
  val langMarkers: Seq[(String, Seq[String])] = graft.functions.LangEvals.markers

  private def toks(c: Column): Column = split(lower(c), " ")

  private def markerScore(c: Column, markers: Seq[String]): Column =
    size(array_intersect(array_distinct(toks(c)), typedlit(markers)))

  /** Regex-free CJK gate (native codepoint-range scan — lang-ID is a
    * full-corpus op, and `rlike` here was the last regex on a full-scan hot
    * path; PlanSpec pins the q12/q33 plans regex-free). The `rlike` twin is
    * the differential pin in OperatorSpec; the DuckDB oracle keeps
    * regexp_matches.
    */
  def hasCjk(c: Column): Column = graft.functions.Kernels.has_cjk(c)

  /** Deterministic language ID: CJK chars → zh, else marker-word argmax
    * with the fixed order en > de > fr > es on ties. Native one-pass
    * kernel (round 3 — the Column form ran the regex StringSplit FOUR
    * times per row, once per language score); [[langIdColumn]] is the
    * fuzz-pinned twin. The native expression null-propagates like every
    * graft kernel, while the twin's CaseWhen (and the DuckDB CASE) falls
    * through to "es" on null text — coalesce keeps the three-way
    * equivalence total over null rows.
    */
  def langId(c: Column): Column =
    coalesce(graft.functions.Kernels.lang_id(lower(c)), lit("es"))

  /** Column twin of [[langId]] (differential pin only). */
  def langIdColumn(c: Column): Column = {
    val s = langMarkers.map { case (l, m) => l -> markerScore(c, m) }.toMap
    when(hasCjk(c), "zh")
      .when(s("en") >= s("de") && s("en") >= s("fr") && s("en") >= s("es"), "en")
      .when(s("de") >= s("fr") && s("de") >= s("es"), "de")
      .when(s("fr") >= s("es"), "fr")
      .otherwise("es")
  }

  /** DuckDB twin of langId (same constants, same tie order). */
  def langIdSql(col: String): String = {
    def score(markers: Seq[String]) =
      s"len(list_intersect(list_distinct(string_split(lower($col),' ')), [${markers.map("'" + _ + "'").mkString(",")}]))"
    val s = langMarkers.map { case (l, m) => l -> score(m) }.toMap
    s"""CASE WHEN regexp_matches($col, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       | WHEN ${s("en")} >= ${s("de")} AND ${s("en")} >= ${s("fr")} AND ${s("en")} >= ${s("es")} THEN 'en'
       | WHEN ${s("de")} >= ${s("fr")} AND ${s("de")} >= ${s("es")} THEN 'de'
       | WHEN ${s("fr")} >= ${s("es")} THEN 'fr' ELSE 'es' END""".stripMargin.replace("\n", " ")
  }

  // character-trigram profiles (F7 n-gram variant — the brief's
  // "language-ID (n-gram heuristic)"; ASCII-only so the constants embed
  // identically in Spark and DuckDB SQL). Shared with the native kernel.
  val langTrigrams: Seq[(String, Seq[String])] = graft.functions.LangEvals.trigrams

  /** all character trigrams of lower(c), empty below length 3. */
  private def trigrams(c: Column): Column = {
    val t = lower(c)
    when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(typedlit(Seq.empty[String]))
  }

  private def trigramScore(g: Column, profile: Seq[String]): Column =
    size(array_intersect(array_distinct(g), typedlit(profile)))

  /** F7 n-gram language ID: CJK chars → zh, else distinct-trigram-overlap
    * argmax against the profiles, tie order en > de > fr > es (same
    * protocol as [[langId]], trigram evidence instead of marker words).
    * Native one-pass kernel; [[langIdTrigramColumn]] is the fuzz-pinned
    * twin. On null text the twin's trigrams() gate yields an EMPTY array
    * (all scores 0 → first branch "en"), so the null-propagating native
    * output coalesces to "en" — unlike [[langId]], whose twin's score
    * comparisons go null and fall through to "es".
    */
  def langIdTrigram(c: Column): Column =
    coalesce(graft.functions.Kernels.lang_id_trigram(lower(c)), lit("en"))

  /** Column twin of [[langIdTrigram]] (differential pin only). */
  def langIdTrigramColumn(c: Column): Column = {
    val g = trigrams(c)
    val s = langTrigrams.map { case (l, p) => l -> trigramScore(g, p) }.toMap
    when(hasCjk(c), "zh")
      .when(s("en") >= s("de") && s("en") >= s("fr") && s("en") >= s("es"), "en")
      .when(s("de") >= s("fr") && s("de") >= s("es"), "de")
      .when(s("fr") >= s("es"), "fr")
      .otherwise("es")
  }

  /** DuckDB twin of [[langIdTrigram]] (same constants, same tie order). */
  def langIdTrigramSql(col: String): String = {
    val g = s"list_transform(range(1, greatest(len(lower($col)) - 1, 1)), i -> substr(lower($col), i::INT, 3))"
    def score(profile: Seq[String]) =
      s"len(list_intersect(list_distinct($g), [${profile.map("'" + _ + "'").mkString(",")}]))"
    val s = langTrigrams.map { case (l, p) => l -> score(p) }.toMap
    s"""CASE WHEN regexp_matches($col, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       | WHEN ${s("en")} >= ${s("de")} AND ${s("en")} >= ${s("fr")} AND ${s("en")} >= ${s("es")} THEN 'en'
       | WHEN ${s("de")} >= ${s("fr")} AND ${s("de")} >= ${s("es")} THEN 'de'
       | WHEN ${s("fr")} >= ${s("es")} THEN 'fr' ELSE 'es' END""".stripMargin.replace("\n", " ")
  }

  /** Whitespace token count — native single-pass scanner (round 3: token
    * counting is a full-corpus scan op, and `size(split(...))` both ran
    * java.util.regex AND materialized the token array per row just to take
    * its length). [[wsTokenCountRegex]] is the fuzz-pinned Pattern twin.
    */
  def wsTokenCount(c: Column): Column = graft.functions.Kernels.ws_token_count(c)

  /** regex twin of [[wsTokenCount]] (differential pin only). */
  def wsTokenCountRegex(c: Column): Column = size(split(c, "\\s+"))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-space-non-alnum marks each count as one token. Native scanner;
    * [[bpeTokenCountRegex]] is the fuzz-pinned Pattern twin.
    */
  val bpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def bpeTokenCount(c: Column): Column = graft.functions.Kernels.bpe_token_count(c)

  /** regex twin of [[bpeTokenCount]] (differential pin only). */
  def bpeTokenCountRegex(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeTokenPattern), lit(0)))

  /** Quality score in [0,1]: stopword-ratio, mean-word-length, and
    * digit-ratio components (re-expression of length/punct/stopword quality
    * heuristics; all integer-exact so the oracle matches bit-for-bit after
    * rounding).
    */
  val qualityStopwords: Seq[String] = graft.functions.LangEvals.qualityStopwords

  /** Quality score — native one-pass kernel (token tallies folded in a
    * single walk, no token array); [[qualityScoreColumn]] is the
    * fuzz-pinned twin, bit-identical including the round-6.
    */
  def qualityScore(c: Column): Column =
    graft.functions.Kernels.quality_score(lower(c))

  /** Column twin of [[qualityScore]] (differential pin only). */
  def qualityScoreColumn(c: Column): Column = {
    val t = toks(c)
    val n = greatest(size(t), lit(1)).cast("double")
    val stopRatio = size(filter(t, x => array_contains(typedlit(qualityStopwords), x))).cast("double") / n
    // all-digits test without a regex node: stripping "0123456789" empties
    // the token iff every char was a digit (the ^[0-9]+$ twin lives in the
    // DuckDB oracle)
    val digitRatio = size(filter(t, x =>
      length(x) > 0 && translate(x, "0123456789", "") === "")).cast("double") / n
    val meanLen = aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / n
    round(least(stopRatio * 2, lit(1.0)) * 0.3
      + (lit(1.0) - digitRatio) * 0.3
      + least(meanLen / lit(8.0), lit(1.0)) * 0.4, 6)
  }

  def qualityScoreSql(col: String): String = {
    val stops = qualityStopwords.map("'" + _ + "'").mkString(",")
    val t = s"string_split(lower($col),' ')"
    val n = s"greatest(len($t),1)::DOUBLE"
    val stopRatio = s"len(list_filter($t, x -> list_contains([$stops], x)))::DOUBLE / $n"
    val digitRatio = s"len(list_filter($t, x -> regexp_matches(x,'^[0-9]+$$')))::DOUBLE / $n"
    val meanLen = s"list_sum(list_transform($t, x -> length(x)))::DOUBLE / $n"
    s"round(least($stopRatio*2,1.0)*0.3 + (1.0-$digitRatio)*0.3 + least($meanLen/8.0,1.0)*0.4, 6)"
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text
    * (stable, join-friendly; the rolling-hash variant lives in Dedup.simHash).
    * The normalizer is the native collapse_ws scanner — fingerprinting
    * feeds BOTH dedup entry points (Dedup.exactDedup, Dedup.minHashDedup),
    * so at corpus scale it runs over every document; [[fingerprintRegex]]
    * is the fuzz-pinned Pattern twin and the DuckDB oracle keeps its
    * independent RE2 formulation.
    */
  def fingerprint(c: Column): Column =
    md5(graft.functions.Kernels.collapse_ws(lower(c)))

  /** regex twin of [[fingerprint]] (differential pin only). */
  def fingerprintRegex(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")))

  /** DuckDB (RE2) `\s` is `[\t\n\f\r ]` — it EXCLUDES vertical tab \x0B,
    * which Java's `\s` (the semantics every Spark-side tokenizer here pins,
    * ScanExprs.isJavaWs) includes. Every DuckDB twin therefore spells the
    * class `[\s\x0b]` so the three-way equivalence holds on VT too.
    */
  val duckWs = "[\\s\\x0b]"

  def fingerprintSql(col: String): String =
    s"md5(trim(regexp_replace(lower($col), '$duckWs+', ' ', 'g')))"

  /** DuckDB spelling of [[bpeTokenPattern]] (RE2 `\s` lacks \x0B). */
  val bpeTokenPatternDuck = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s\\x0b]"

  /** Reduced normalizer with an exact DuckDB twin (the full pipeline clean
    * chain needs lookaround regexes RE2 lacks; it is verified against
    * Rules.cleanString in ScalaTest instead). Native ascii_normalize
    * scanner; [[normalizeRegex]] is the fuzz-pinned Pattern twin.
    */
  def normalize(c: Column): Column =
    graft.functions.Kernels.ascii_normalize(lower(c))

  /** regex twin of [[normalize]] (differential pin only). */
  def normalizeRegex(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  def normalizeSql(col: String): String =
    s"trim(regexp_replace(regexp_replace(lower($col), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** Intra-doc repetition signals (Gopher quality filters) — struct of
    * n_words / dup_word_frac / top{2,3,4}_char_frac / dup5_char_frac, one
    * regex-free codegen'd pass per document (functions/Repetition.scala).
    */
  def repetitionStats(c: Column): Column =
    graft.functions.Kernels.repetition_stats(c)

  /** The Gopher filter gate over [[repetitionStats]]: keep docs whose
    * repetition signals sit under the thresholds (defaults are the paper's
    * word-level cuts: top2 0.20 / top3 0.18 / top4 0.16, dup-5-gram 0.15).
    */
  def repetitionFilter(df: org.apache.spark.sql.DataFrame, text: Column,
      top2: Double = 0.20, top3: Double = 0.18, top4: Double = 0.16,
      dup5: Double = 0.15): org.apache.spark.sql.DataFrame = {
    val r = repetitionStats(text)
    df.filter(r.getField("top2_char_frac") <= top2 &&
      r.getField("top3_char_frac") <= top3 &&
      r.getField("top4_char_frac") <= top4 &&
      r.getField("dup5_char_frac") <= dup5)
  }
}
