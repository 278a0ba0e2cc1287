package graft.docprep

/** Controlled vocabularies — the reference's public authority tables
  * (feed_ursus/controlled_fields.py:15-769, themselves mirrors of
  * UCLALibrary/californica config/authorities YAMLs: public LoC / Creative
  * Commons / IIIF URIs and MARC language codes). The TABLES are a data-only
  * port, stored as classpath TSV resources under
  * `graft/controlled_vocab/` (id <TAB> label), extracted from the
  * reference's controlled_fields.py (FIXTURES.md §3); parity requires the
  * exact entries.
  *
  * Maps are id -> label ("id" = the reference Enum member name, usually a
  * URI; "label" = the human-readable term). Loaded once per JVM; used as
  * plan LITERALS (`typedlit` + `element_at`) in the record projections — no
  * broadcast, no shuffle, constant-folded into codegen.
  */
object ControlledVocab {

  private def load(name: String): Map[String, String] = {
    val in = getClass.getResourceAsStream(s"/graft/controlled_vocab/$name.tsv")
    require(in != null, s"missing vocabulary resource: $name.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    finally in.close()
  }

  /** controlled_fields.py License (15 CC/Europeana URIs). */
  lazy val license: Map[String, String] = load("license")

  /** controlled_fields.py ResourceType (LoC resourceTypes). */
  lazy val resourceType: Map[String, String] = load("resource_type")

  /** controlled_fields.py RightsStatement. */
  lazy val rightsStatement: Map[String, String] = load("rights_statement")

  /** controlled_fields.py TextDirection (IIIF presentation 2). */
  lazy val textDirection: Map[String, String] = load("text_direction")

  /** controlled_fields.py ViewingHint (IIIF presentation 2). */
  lazy val viewingHint: Map[String, String] = load("viewing_hint")

  /** controlled_fields.py language_names (606 MARC-ish codes). */
  lazy val languageNames: Map[String, String] = load("language_names")
}
