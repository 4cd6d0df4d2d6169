package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale corpus processing (dedup,
  * fingerprinting, language ID, quality scoring — the north-star ops of
  * BASELINE.json), built exclusively from codegen'd built-in expressions.
  *
  * Everything here is deliberately *deterministic across engines*: hashes
  * are md5 (bit-identical in any implementation), so results can be
  * oracle-checked and reproduced between clusters. No UDFs, no JVM
  * hashCode, no nondeterministic seeds.
  */
object TextFunctions {

  /** Non-empty line units of a text column: `sep` picks the unit
    * ("\\R" = physical lines, "\\R{2,}" = paragraphs); blank units
    * (separator runs) never count as content. THE one definition of
    * "line" shared by the per-doc repetition signal
    * (TextAnalysis.withLineRepetition) and every corpus-level line
    * dedup pass (Dedup.removeBoilerplateLines / dedupLinesKeepFirst),
    * so they can never drift on what a line is. */
  def lineUnits(text: Column, sep: String = "\\R"): Column =
    filter(split(text, sep), l => length(l) > 0)

  /** Deterministic w-token chunk "lines" rebuilt from a token array
    * and joined with \n — the oracle reconstruction device shared by
    * the line-dedup query rows (q168–q171) and their ScaleProbe rows:
    * the word-soup test corpus has no physical lines, so this stands
    * in, and the DuckDB side replays the identical arithmetic. Empty
    * token arrays pin to "". */
  def rebuiltLineText(toks: Column, w: Int): Column =
    when(size(toks) === 0, lit(""))
      .otherwise(array_join(
        transform(
          sequence(lit(0),
            ceil(size(toks) / lit(w.toDouble)).cast("int") - 1),
          i => array_join(slice(toks, i * w + 1, lit(w)), " ")),
        "\n"))

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Count of alphabetic chars — the ONE definition of "alpha" shared
    * by the quality signals (q33) and the dataset card (q93), so the
    * two can never drift on what alpha means. */
  def alphaChars(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", ""))

  /** BPE-ish pre-tokenization: letter runs, digit runs, single other
    * non-space chars — the usual GPT-style regex family, simplified. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** One minhash value: the minimum over shingles of a seeded md5,
    * truncated to 16 hex chars (lexicographic min of fixed-width hex ==
    * numeric min of the 64-bit value). */
  def minhash(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr,
      s => substring(md5(concat(lit(s"${seed}_"), s)), 1, 16)))

  /** k-element minhash signature. */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    array((0 until k).map(minhash(shingleArr, _)): _*)

  /** LSH band keys: signature sliced into `bands` bands of `rows` values,
    * each band hashed to one key. Docs sharing ANY (band, key) become
    * dedup candidates — the classic banding construction. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", slice(sig, b * rows + 1, rows))).as("bkey"))): _*)

  /** Count of DISTINCT tokens that appear in `markers` (set semantics on
    * both Spark and DuckDB). */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(array_intersect(toks, array(markers.map(lit): _*)))

  /** Language-ID heuristic: argmax of marker-token hits over the given
    * (language → marker words) table; ties resolve in `table` order.
    * Compiles to a nested CASE — identical shape to the SQL oracle. */
  def langId(toks: Column, table: Seq[(String, Seq[String])]): Column = {
    val hits = table.map { case (lang, ws) => lang -> markerHits(toks, ws) }
    def build(i: Int): Column =
      if (i == hits.size - 1) lit(hits(i)._1)
      else when(hits.drop(i + 1).map(hits(i)._2 >= _._2).reduce(_ && _),
        lit(hits(i)._1)).otherwise(build(i + 1))
    build(0)
  }
}
