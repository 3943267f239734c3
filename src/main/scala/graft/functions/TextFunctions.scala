package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline scalar functions (SURVEY.md §3.11 T1/T2/T7 + north-star
  * text analysis: language ID, quality scoring, token counting,
  * fingerprinting).
  *
  * Everything is composed from built-in Catalyst expressions (codegen'd,
  * no UDFs), so the functions vectorize inside whole-stage codegen and the
  * same semantics can be expressed in ANSI SQL for the DuckDB oracle.
  */
object TextFunctions {

  /** Lowercase, strip non [a-z0-9 ] chars, collapse runs of whitespace. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokenization (T1). */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Document fingerprint: md5 of the normalized text — equal fingerprints
    * ⇔ near-identical content modulo case/punct/whitespace (T3 exact-dedup
    * key).
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  private val polyMod = 1000000007L

  /** Polynomial rolling hash of the whole text (Rabin–Karp style):
    * `acc = (acc*31 + ascii(char)) mod 1e9+7`, left-to-right, init 0.
    * Engine-portable (same fold in ANSI SQL via list_reduce) and O(len)
    * per row inside codegen — the cheap fingerprint where md5 is overkill.
    */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L), (acc, x) => (acc * 31 + x) % polyMod)

  /** Winnowing-style fingerprint: the MINIMUM rolling hash over all
    * 32-char windows of the text. Near-identical documents share most
    * windows, so they collide on this fingerprint with high probability —
    * the classic local-fingerprinting dedup key (one value per doc).
    */
  def winnowFingerprint(text: Column): Column = {
    val starts = sequence(lit(1), greatest(length(text) - 31, lit(1)))
    array_min(transform(starts, i => rollingHash(text.substr(i, lit(32)))))
  }

  /** Ratio of non-alphanumeric, non-space chars (quality signal). */
  def punctRatio(text: Column): Column = {
    val stripped = regexp_replace(text, "[a-zA-Z0-9 ]", "")
    length(stripped).cast("double") / greatest(length(text), lit(1)).cast("double")
  }

  /** Mean token length. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    aggregate(t, lit(0L), (acc, tok) => acc + length(tok)).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  /** Fraction of tokens that are English stopwords (quality/fluency signal). */
  def stopwordRatio(text: Column): Column = {
    val t = tokens(text)
    size(filter(t, tok => tok.isin(stopwords.map(x => x: Any): _*))).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: rewards stopword presence and sane
    * token lengths, penalizes punctuation soup. Thresholds are heuristic —
    * the point is a deterministic, codegen-friendly scoring pipeline.
    */
  def qualityScore(text: Column): Column = {
    val sw   = stopwordRatio(text)
    val mtl  = meanTokenLen(text)
    val pr   = punctRatio(text)
    val lenOk = when(mtl.between(2.0, 12.0), 1.0).otherwise(0.0)
    round(least(lit(1.0), greatest(lit(0.0),
      lit(0.4) * least(sw * 5.0, lit(1.0)) + lit(0.4) * lenOk + lit(0.2) * (lit(1.0) - least(pr * 10.0, lit(1.0))))), 6)
  }

  /** Marker-substring counts for a crude n-gram language heuristic:
    * occurrences of ` marker ` in the padded lowercase text.
    */
  def markerCount(text: Column, marker: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val m      = s" $marker "
    ((length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(m), ""))) / m.length).cast("int")
  }

  /** Heuristic language ID over marker stopwords. Deterministic and
    * SQL-expressible; returns the arg-max language code or 'und'.
    */
  def langId(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of"),
      "es" -> Seq("el", "la", "que"),
      "fr" -> Seq("le", "la", "et"),
      "de" -> Seq("der", "die", "und"),
      "zh" -> Seq("de", "shi", "le"))
    val scores = markers.map { case (lang, ms) =>
      lang -> ms.map(markerCount(text, _)).reduce(_ + _)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && sc > 0, lang).otherwise(acc)
    }
  }
}
