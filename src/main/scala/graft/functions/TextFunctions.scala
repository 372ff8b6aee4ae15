package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar text functions (SURVEY.md §2.6 F1-F8),
  * re-expressed as pure `Column` transformations — 100% built-in
  * expressions, zero UDFs, so every use stays inside whole-stage
  * codegen and is pushdown/prune-friendly at any scale.
  *
  * Semantics mirror /root/reference/etl1.py (cited per function) and are
  * pinned by the golden cases in FIXTURES.md §C.
  */
object TextFunctions {

  /** F1 (etl1.py:92-101): extract a trailing `(YYYY)` year. No match
    * (including en-dash ranges like `(2006–2007)`) → null. ANSI-safe:
    * the empty-string no-match is mapped to null before the int cast.
    */
  def extractYear(title: Column): Column = {
    val raw = regexp_extract(title, "\\((\\d{4})\\)\\s*$", 1)
    when(raw === "", lit(null).cast("int")).otherwise(raw.cast("int"))
  }

  /** F1 companion (etl1.py:100): strip the trailing `(YYYY)` only. */
  def stripYear(title: Column): Column =
    trim(regexp_replace(title, "\\s*\\(\\d{4}\\)\\s*$", ""))

  /** F2 (etl1.py:103-140): full title normalization —
    * (a) trim, (b) drop ALL parenthesized segments (years, alt titles),
    * (c) move a trailing `, The/A/An/Le/La/Les` article to the front,
    * (d) collapse whitespace, (e) strip stray leading/trailing `, `.
    * `"City of Lost Children, The (Cité des enfants perdus, La) (1995)"`
    * → `"The City of Lost Children"` (README.md:372).
    */
  def normalizeTitle(title: Column): Column = {
    val noParens  = regexp_replace(trim(title), "\\s*\\([^)]*\\)", "")
    val collapsed = regexp_replace(trim(noParens), "\\s+", " ")
    val deComma   = regexp_replace(collapsed, "^[, ]+|[, ]+$", "")
    val article   = regexp_replace(deComma, "^(.*), (The|A|An|Le|La|Les)$", "$2 $1")
    regexp_replace(trim(article), "\\s+", " ")
  }

  /** F3 (etl1.py:83-86): IMDb id formatting `tt%07d` — pads without
    * truncating 8+ digit ids, exactly like Python's `%07d`. */
  def formatImdbId(imdbId: Column): Column =
    when(imdbId.isNull, lit(null).cast("string"))
      .otherwise(format_string("tt%07d", imdbId.cast("long")))

  /** F4 (etl1.py:432,453): pipe split + trim + drop empties. */
  def splitGenres(genres: Column): Column =
    filter(transform(split(genres, "\\|"), g => trim(g)), g => length(g) > 0)

  /** F8 (etl1.py:254-257): Yes/No presence flag. */
  def yesNo(c: Column): Column = when(c.isNotNull, "Yes").otherwise("No")
}
