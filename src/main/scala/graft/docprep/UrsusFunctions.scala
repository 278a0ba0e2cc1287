package graft.docprep

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's document-production scalar transforms (SURVEY.md §2.7)
  * re-expressed as pure Catalyst column expressions — the docprep parity
  * layer (§7.2 module 7). Every function cites its source in
  * /root/reference/ and is covered by UrsusFunctionsSpec with the reference's
  * own test vectors (tests/test_util.py, tests/test_ursus_solr_record.py).
  *
  * All are codegen-friendly builtins — no UDFs (SURVEY.md §2.11 verdict).
  */
object UrsusFunctions {

  /** Python str.strip() trims ALL whitespace; Spark's trim() only spaces. */
  def wsTrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** F3 parse_empty (feed_ursus/util.py:23-33): strip; "" -> null. */
  def parseEmpty(c: Column): Column = nullif(wsTrim(c), lit(""))

  /** F1 parse_marc (util.py:60-91): interior ` $x ` -> replacement, leading
    * `$x ` / trailing ` $x` -> "", then strip.
    */
  def parseMarc(c: Column, replacement: String = " "): Column =
    wsTrim(regexp_replace(regexp_replace(
      regexp_replace(c, " \\$[a-z] ", replacement), "^\\$[a-z] ", ""), " \\$[a-z]$", ""))

  /** F1 variant for subjects: `--` joins subfields (util.py:90-91). */
  def parseMarcSubject(c: Column): Column = parseMarc(c, "--")

  /** F2 parse_list (util.py:112-156): split multivalued cell on `|~|`. */
  def parseList(c: Column): Column = split(c, "\\|~\\|")

  /** An empty string array as null: the reference's list fields are None
    * when nothing remains. One `nullif`, so Spark evaluates `c` once (it
    * pulls the common expression into the Project below).
    */
  def nonEmptyOrNull(c: Column): Column = nullif(c, array().cast("array<string>"))

  private val ArkPattern = "^ark:/\\d+(/([a-z]|[0-9])+)+$"

  /** F4 ensure_ark_prefix (util.py:172-206): prepend `ark:/` iff the result
    * matches the ARK grammar and the input doesn't already.
    */
  def ensureArkPrefix(c: Column): Column =
    when(concat(lit("ark:/"), c).rlike(ArkPattern) && !c.rlike(ArkPattern),
      concat(lit("ark:/"), c)).otherwise(c)

  /** F5 make_ursus_id (util.py:214-237): values already shaped like an ursus
    * id pass through; arks are transformed: drop `ark:/`, `/` -> `-`, reverse.
    */
  def makeUrsusId(c: Column): Column = {
    val isBaseId = c.rlike("^(([a-z]|[0-9])+-)\\d+$")
    when(isBaseId, c).otherwise(
      reverse(translate(regexp_replace(c, "^ark:/", ""), "/", "-")))
  }

  /** F9 visibility decision table (ursus_solr_record.py:271-327): maps
    * deprecated values and the Visibility-absent cases driven by Item Status.
    * `visibility` null means "column absent"; empty string means "present but
    * empty".
    */
  def mapVisibility(visibility: Column, itemStatus: Column): Column =
    when(visibility.isin("authenticated", "private", "registered",
      "restricted", "discovery", "sinai"), "authenticated")
      .when(visibility.isin("open", "public"), "open")
      .when(visibility === "", "open")
      .when(visibility.isNull &&
        itemStatus.isin("Completed", "Completed with minimal metadata"), "open")
      .when(visibility.isNull && itemStatus.isNotNull, "authenticated")
      .when(visibility.isNull && itemStatus.isNull, "open")
      .otherwise(visibility)

  /** F7 archival collection formatter (ursus_solr_record.py:383-418):
    * "Title (No), Box b, Folder f" with case-insensitive box/folder prefix
    * strip; null when neither title nor number present.
    */
  def archivalCollection(title: Column, number: Column, box: Column, folder: Column): Column = {
    val base = when(title.isNotNull && number.isNotNull,
      concat(title, lit(" ("), number, lit(")")))
      .when(title.isNotNull, title)
      .when(number.isNotNull, concat(lit("Archival Collection "), number))
    val boxPart = regexp_replace(coalesce(box, lit("")), "(?i)^\\s*box\\s*", "")
    val folderPart = regexp_replace(coalesce(folder, lit("")), "(?i)^\\s*folder\\s*", "")
    when(base.isNull, lit(null.asInstanceOf[String])).otherwise(
      concat(base,
        when(boxPart =!= "", concat(lit(", Box "), boxPart)).otherwise(lit("")),
        when(folderPart =!= "", concat(lit(", Folder "), folderPart)).otherwise(lit(""))))
  }

  /** F13 get_year (year_parser.py:38-51): the single 4-or-3-digit year in the
    * string, null if zero or multiple matches (ambiguous).
    */
  def getYear(c: Column): Column = {
    val all = regexp_extract_all(c, lit("\\b(\\d\\d\\d\\d|\\d\\d\\d)\\b"), lit(0))
    when(array_size(all) === 1, element_at(all, 1).cast("int"))
  }

  /** A7 integer_years (year_parser.py:12-35): expand `A/B` ranges to
    * {yearA..yearB}, single values to {year}; union, sorted, distinct —
    * over an ARRAY of normalized_date strings.
    */
  def integerYears(dates: Column): Column = {
    def yearOf(s: Column): Column = getYear(s)
    val perDate = transform(dates, d => {
      val slash = instr(d, "/")
      val isRange = slash > 0
      val start = yearOf(when(isRange, regexp_extract(d, "(.*)/(.*)", 1)).otherwise(d))
      val end = yearOf(regexp_extract(d, "(.*)/(.*)", 2))
      when(isRange && start.isNotNull && end.isNotNull, sequence(start, end))
        .when(!isRange && start.isNotNull, array(start))
        .otherwise(array().cast("array<int>"))
    })
    array_sort(array_distinct(flatten(perDate)))
  }

  /** F11 3-digit-year zero-pad for ISO parsing (date_parser.py:50-68). */
  def padThreeDigitYear(c: Column): Column =
    when(c.rlike("^\\d\\d\\d\\b"), concat(lit("0"), c)).otherwise(c)

  /** F12 get_dates (date_parser.py:9-26): endpoints of all normalized dates
    * (single or `A/B`), distinct, sorted — as ISO timestamp strings padded to
    * 4-digit years.
    */
  def getDates(dates: Column): Column = {
    val endpoints = flatten(transform(dates, d =>
      when(instr(d, "/") > 0,
        array(padThreeDigitYear(regexp_extract(d, "(.*)/(.*)", 1)),
          padThreeDigitYear(regexp_extract(d, "(.*)/(.*)", 2))))
        .otherwise(array(padThreeDigitYear(d)))))
    array_sort(array_distinct(endpoints))
  }

  /** F8 IIIF thumbnail suffix (ursus_solr_record.py:1514-1522): URLs whose
    * path is exactly `/iiif/2/<id>` get the default-size render suffix.
    */
  def iiifThumbnail(c: Column): Column =
    when(c.rlike("^https?://[^/]+/iiif/2/[^/]+$"),
      concat(c, lit("/full/!200,200/0/default.jpg"))).otherwise(c)

  /** F17 HTML link builder (importer.py:376-382). */
  def htmlLink(ark: Column, title: Column): Column =
    format_string("<a href='/catalog/%s'>%s</a>", ark, title)

  /** F20 Sinai filename from ark (sinai_json_importer.py:42-50). */
  def filenameFromArk(c: Column): Column =
    concat(translate(regexp_replace(c, "^ark:/21198/", ""), "/", "-"), lit(".json"))

  /** A3 order-preserving dedup across multiple array columns
    * (util.py:302-305 `deduplicate` = dict.fromkeys(chain(*iters))).
    */
  def deduplicate(arrays: Column*): Column =
    array_distinct(concat(arrays: _*))

  /** F10 object type mapping (ursus_solr_record.py:838-872). */
  def mapObjectType(c: Column): Column =
    when(c === "Manuscript", "Work")
      .when(c === "Page", "ChildWork")
      .when(c.isNull || c === "", "Work")
      .otherwise(c)
}
