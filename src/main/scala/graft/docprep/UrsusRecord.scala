package graft.docprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's record-level CSV -> Solr-doc projection
  * (feed_ursus/ursus_solr_record.py:110-1645) re-expressed as two Spark
  * `select`s of pure column expressions — the main product of feed_ursus:
  * its ~95 declared fields (header-alias coalesce + MARC parsing +
  * controlled-vocabulary validation), then its ~70 computed fields over them
  * (facet copies, combined names/subjects, date machinery, access groups).
  *
  * Everything is Catalyst builtins (no UDFs): alias resolution is a
  * `coalesce`, MARC list parsing is `split`+`transform`+`filter`, vocabulary
  * serialization is `element_at` on a literal map (constant-folded into the
  * plan — no broadcast, no shuffle; the projection is map-only and scales
  * linearly at any corpus size).
  *
  * Each value is written once and evaluated once per row: a list column's
  * parse chain turns empty into null with ONE `nullif`, whose argument Spark
  * evaluates once (the optimizer pulls it into the Project below), no guard
  * wraps a function that already propagates null, and a field that copies
  * another (Solr's copyField) is a reference to it.
  *
  * Strictness: the reference REJECTS records failing validation (bad enum
  * label, start>end date range, bad preservation-copy path). A Spark
  * projection is per-column, so invalid VALUES are passed through or nulled
  * per field (the documented behavior of the reference's own less-strict
  * variant, less_strict_solr_record.py); row-level rejection is the error
  * channel's job (graft.streaming.StreamingIngest).
  */
object UrsusRecord {

  import UrsusFunctions._

  private val nullStr: Column = lit(null).cast("string")
  private val nullArr: Column = lit(null).cast("array<string>")

  /** Header-alias resolution (pydantic AliasChoices): first non-empty value
    * among the alias columns present in the frame. (The reference picks the
    * first alias column PRESENT in the csv even when its value is empty; on
    * real exports only one alias of a set occurs, where both semantics agree
    * — value-level coalesce is the Spark-natural form.)
    */
  private def rawFirst(df: DataFrame, aliases: Seq[String]): Column = {
    val present = aliases.filter(df.columns.contains)
    if (present.isEmpty) nullStr
    // backtick-quote: csv headers like `Type.typeOfResource` would otherwise
    // parse as nested-field access
    else coalesce(present.map(a => parseEmpty(col(s"`$a`"))) :+ nullStr: _*)
  }

  /** MARCString: parse_marc + strip, empty -> null (util.py:94-100). */
  private def marcStr(df: DataFrame, aliases: String*): Column =
    nullif(parseMarc(rawFirst(df, aliases)), lit(""))

  /** MARCList[MARCString]: split on `|~|`, parse_marc each element, drop
    * empties, null when nothing remains (util.py:112-165). `split` yields no
    * null element and parse_marc strips, so an empty element is `""`.
    */
  private def marcListOf(raw: Column, replacement: String): Column =
    nonEmptyOrNull(filter(transform(parseList(raw), parseMarc(_, replacement)), _ =!= ""))

  private def marcList(df: DataFrame, aliases: String*): Column =
    marcListOf(rawFirst(df, aliases), " ")

  /** MARCList[MARCSubject]: `--` joins subfields (util.py:103-109). */
  private def marcSubjects(df: DataFrame, aliases: String*): Column =
    marcListOf(rawFirst(df, aliases), "--")

  /** serialize_term(by="id"): label -> enum name (URI); unknown labels pass
    * through unchanged (util.py:239-300).
    */
  private def termId(c: Column, vocab: Map[String, String]): Column =
    coalesce(element_at(typedlit(vocab.map(_.swap)), c), c)

  private def termIds(arr: Column, vocab: Map[String, String]): Column =
    transform(arr, termId(_, vocab))

  /** normalized_date element validity (util.py:44-57 + date_parser.py:29-47):
    * must match the `A` or `A/B` grammar AND parse, with A <= B for ranges.
    * Invalid elements are dropped (the reference rejects the record): an
    * endpoint that does not parse is a null, and a null `<=` drops it.
    */
  private def validNormalizedDates(arr: Column): Column = {
    val pat = "^-?\\d?\\d\\d\\d(-\\d\\d){0,2}(/-?\\d?\\d\\d\\d(-\\d\\d){0,2})?$"
    nonEmptyOrNull(filter(arr, d => {
      val range = instr(d, "/") > 0
      def endpoint(i: Int): Column = padThreeDigitYear(
        when(range, regexp_extract(d, "(.*)/(.*)", i)).otherwise(d)).try_cast("timestamp")
      d.rlike(pat) && endpoint(1) <= endpoint(2)
    }))
  }

  /** pysolr _from_python: `%Y-%m-%dT%H:%M:%SZ` via strftime — note Python's
    * `%Y` does NOT zero-pad years below 1000 ('935-01-01T00:00:00Z'), so the
    * padded ISO year is un-padded here for byte parity with the reference
    * (matched against the actual pydantic model; FIXTURES.md §3).
    */
  private def solrDates(endpoints: Column): Column =
    transform(endpoints, e =>
      regexp_replace(date_format(e, "yyyy-MM-dd'T'HH:mm:ss'Z'"), "^0+", ""))

  /** Project a CSV-shaped frame (columns named by the reference's csv
    * headers) into the UrsusSolrRecord columns: one select of the declared
    * fields, then one of the computed fields over them. Each list column is
    * parsed once, and a field that copies another names it.
    *
    * @param now fixed timestamp for `timestamp`/`system_modified_dtsi`
    *            (the reference stamps datetime.now; a fixed instant keeps
    *            the projection deterministic — pass None to omit)
    */
  def project(df: DataFrame, now: Option[String] = None): DataFrame = {
    // ---- declared fields (ursus_solr_record.py:124-1565, alias lists
    // verbatim; MARCList / MARCString / MARCSubject typing per util.py) ----
    val declared: Seq[(String, Column)] = Seq(
      "ark_ssi" -> ensureArkPrefix(rawFirst(df, Seq("Item ARK"))),
      "title_tesim" -> marcList(df, "Title"),
      "human_readable_iiif_text_direction_ssi" -> rawFirst(df, Seq("Text direction")),
      "human_readable_iiif_viewing_hint_ssi" -> rawFirst(df, Seq("viewingHint")),
      "language_tesim" -> marcList(df, "Language"),
      "human_readable_resource_type_tesim" -> marcList(df, "Type.typeOfResource"),
      // `pd` is a deprecated alias for `public domain` (:240-247)
      "human_readable_rights_statement_tesim" -> transform(marcList(df, "Rights.copyrightStatus"),
        e => when(e === "pd", "public domain").otherwise(e)),
      "visibility_ssi" -> {
        val vis = if (df.columns.contains("Visibility"))
          coalesce(wsTrim(col("Visibility")), lit("")) else nullStr
        val status = rawFirst(df, Seq("Item Status"))
        mapVisibility(vis, status)
      },
      "access_copy_ssi" -> rawFirst(df, Seq("access_copy", "IIIF Access URL")),
      "alternative_title_tesim" -> marcList(df, "AltTitle.other", "AltTitle.parallel",
        "AltTitle.translated", "Alternate Title.creator", "Alternate Title.descriptive",
        "Alternate Title.inscribed", "AltTitle.descriptive", "Alternate Title.other"),
      "architect_tesim" -> marcList(df, "Name.architect"),
      "archival_collection_box_ssi" -> marcStr(df, "Box"),
      "archival_collection_folder_ssi" -> marcStr(df, "Folder"),
      "archival_collection_number_ssi" -> marcStr(df, "Archival Collection Number"),
      "archival_collection_title_ssi" -> marcStr(df, "Archival Collection Title"),
      "arranger_tesim" -> marcList(df, "Arranger", "Name.arranger"),
      "artist_tesim" -> marcList(df, "Artist", "Name.artist"),
      "associated_name_tesim" -> marcList(df, "Associated Name"),
      "author_tesim" -> marcList(df, "Author"),
      "binding_condition_tesim" -> marcList(df, "Binding condition"),
      "binding_note_ssi" -> marcStr(df, "Binding note", "Description.binding"),
      "calligrapher_tesim" -> marcList(df, "Calligrapher", "Name.calligrapher"),
      "caption_tesim" -> marcList(df, "Description.caption"),
      "cartographer_tesim" -> marcList(df, "Cartographer", "Name.cartographer"),
      "citation_source_tesim" -> marcList(df, "References"),
      "collation_tesim" -> marcList(df, "Collation"),
      "collector_tesim" -> marcList(df, "Collector"),
      "colophon_tesim" -> marcList(df, "Colophon", "Description.colophon"),
      "commentator_tesim" -> marcList(df, "Commentator", "Name.commentator"),
      "composer_tesim" -> marcList(df, "Name.composer"),
      "condition_note_tesim" -> marcList(df, "Condition note", "Description.condition"),
      "content_disclaimer_ssm" -> marcList(df, "Content disclaimer"),
      "contents_note_tesim" -> marcList(df, "Contents note"),
      "contents_tesim" -> marcList(df, "Contents"),
      "contributor_tesim" -> marcList(df, "Contributors"),
      "creator_tesim" -> marcList(df, "Creator", "Name.creator"),
      "date_created_tesim" -> marcList(df, "Date.created", "Date.creation"),
      "delivery_tesim" -> marcList(df, "delivery"),
      "description_tesim" -> marcList(df, "Description.note"),
      "descriptive_title_tesim" -> marcList(df, "Descriptive title"),
      "dimensions_tesim" -> marcList(df, "Format.dimensions"),
      "director_tesim" -> marcList(df, "Director", "Name.director"),
      "edition_ssm" -> marcList(df, "Edition"),
      "editor_tesim" -> marcList(df, "Editor", "Name.editor"),
      "electronic_locator_ss" -> marcStr(df, "External item record", "View Record"),
      "engraver_tesim" -> marcList(df, "Engraver", "Name.engraver"),
      "explicit_tesim" -> marcList(df, "Explicit"),
      "extent_tesim" -> marcList(df, "Format.extent"),
      "featured_image_ssi" -> marcStr(df, "Featured image"),
      "features_tesim" -> marcList(df, "Features"),
      "finding_aid_url_ssm" -> marcList(df, "Finding Aid URL", "Alt ID.url"),
      "foliation_tesim" -> marcList(df, "Foliation", "Foliation note"),
      "folio_dimensions_ss" -> marcList(df, "Folio dimensions", "Folio Dimensions"),
      "form_tesim" -> marcList(df, "Form"),
      "format_book_tesim" -> marcList(df, "Format"),
      "funding_note_tesim" -> marcList(df, "Description.fundingNote"),
      "genre_tesim" -> marcList(df, "Type.genre", "Genre"),
      "hand_note_tesim" -> marcList(df, "Hand note"),
      "history_tesim" -> marcList(df, "History"),
      "host_tesim" -> marcList(df, "Host", "Name.host"),
      "identifier_tesim" -> marcList(df, "Identifier"),
      "iiif_manifest_url_ssi" -> marcStr(df, "IIIF Manifest URL"),
      "iiif_range_ssi" -> marcStr(df, "IIIF Range"),
      "illuminator_tesim" -> marcList(df, "Illuminator", "Name.illuminator"),
      "illustrations_note_tesim" -> marcList(df, "Illustrations note", "Description.illustrations"),
      "illustrator_tesim" -> marcList(df, "Illustrator", "Name.illustrator"),
      "image_count_ssi" -> marcStr(df, "image count"),
      "incipit_tesim" -> marcList(df, "Incipit"),
      "ingest_id_ssi" -> rawFirst(df, Seq("ingest_id_ssi")),
      "inscription_tesim" -> marcList(df, "Inscription"),
      "interviewee_tesim" -> marcList(df, "Interviewee", "Name.interviewee"),
      "interviewer_tesim" -> marcList(df, "Name.interviewer", "Interviewer"),
      "latitude_tesim" -> marcList(df, "Description.latitude"),
      "librettist_tesim" -> marcList(df, "Librettist"),
      "license_tesim" -> marcList(df, "License"),
      "local_identifier_ssim" -> marcList(df, "Alt ID.local", "Alternate Identifier.local",
        "AltIdentifier.callNo", "AltIdentifier.local"),
      "local_rights_statement_ssm" -> marcList(df, "Rights.statementLocal"),
      "location_tesim" -> marcList(df, "Coverage.geographic"),
      "longitude_tesim" -> marcList(df, "Description.longitude"),
      "lyricist_tesim" -> marcList(df, "Name.lyricist"),
      "masthead_parameters_ssi" -> marcStr(df, "Masthead"),
      "medium_tesim" -> marcList(df, "Format.medium"),
      "member_of_collection_ids_ssim" ->
        transform(marcList(df, "Parent ARK"), e => makeUrsusId(ensureArkPrefix(e))),
      "member_of_collections_ssim" -> marcList(df, "member_of_collections_ssim"),
      "musician_tesim" -> marcList(df, "Musician", "Name.musician"),
      "named_subject_tesim" -> marcSubjects(df, "Name.subject",
        "Personal or Corporate Name.subject", "Subject.corporateName", "Subject.personalName"),
      "normalized_date_tesim" -> validNormalizedDates(marcList(df, "Date.normalized")),
      "note_admin_tesim" -> marcList(df, "AdminNote", "Description.adminnote", "Note.admin"),
      "note_tesim" -> marcList(df, "Note"),
      "oai_set_ssim" -> marcList(df, "oai_set"),
      "opac_url_ssi" -> marcStr(df, "Opac url", "Description.opac"),
      "other_versions_tesim" -> marcList(df, "Other version(s)"),
      "page_layout_ssim" -> marcList(df, "Page layout"),
      "photographer_tesim" -> marcList(df, "Name.photographer",
        "Personal or Corporate Name.photographer"),
      "place_of_origin_tesim" -> marcList(df, "Place of origin", "Publisher.placeOfOrigin"),
      // pattern-constrained path (:1165-1176); non-matching values nulled
      "preservation_copy_ssi" -> {
        val v = marcStr(df, "File Name")
        when(v.rlike("^Masters/(dlmasters|CDLIMasters|Livingstone|Maps|MEAP|othermasters)/.*"), v)
          .otherwise(nullStr)
      },
      "printer_tesim" -> marcList(df, "Printer", "Name.printer"),
      "printmaker_tesim" -> marcList(df, "Printmaker", "Name.printmaker"),
      "producer_tesim" -> marcList(df, "Producer", "Name.producer"),
      "program_tesim" -> marcList(df, "Program"),
      "provenance_tesim" -> marcList(df, "Provenance", "Description.history"),
      "publisher_tesim" -> marcList(df, "Publisher.publisherName"),
      "recipient_tesim" -> marcList(df, "Recipient", "Name.recipient"),
      "related_record_ssm" -> marcList(df, "Related Records"),
      "human_readable_related_record_title_ssm" -> marcList(df, "human_readable_related_record_title_ssm"),
      "related_to_ssm" -> marcList(df, "Related Items"),
      "repository_tesim" -> marcList(df, "repository", "Repository", "Name.repository",
        "Personal or Corporate Name.repository"),
      "representative_image_ssi" -> marcStr(df, "Representative image"),
      "researcher_tesim" -> marcList(df, "Researcher", "Name.researcher"),
      "resp_statement_tesim" -> marcList(df, "Statement of Responsibility"),
      "rights_country_tesim" -> marcList(df, "Rights.countryCreation"),
      "rights_holder_tesim" -> marcList(df, "Personal or Corporate Name.copyrightHolder",
        "Rights.rightsHolderName"),
      "rubricator_tesim" -> marcList(df, "Rubricator", "Name.rubricator"),
      "scribe_tesim" -> marcList(df, "Scribe"),
      "script_note_tesim" -> marcList(df, "Script note", "Script Note"),
      "script_tesim" -> marcList(df, "Script"),
      "series_tesim" -> marcList(df, "Series"),
      "services_contact_ssm" -> marcList(df, "Rights.servicesContact", "Rights.rightsHolderContact"),
      "shelfmark_ssi" -> marcStr(df, "Shelfmark"),
      "subject_cultural_object_tesim" -> marcSubjects(df, "Subject.culturalObject"),
      "subject_domain_topic_tesim" -> marcSubjects(df, "Subject.domainTopic"),
      "subject_geographic_tesim" -> marcSubjects(df, "Subject geographic", "Subject place"),
      "subject_tesim" -> marcSubjects(df, "Subject"),
      "subject_temporal_tesim" -> marcSubjects(df, "Subject temporal"),
      "subject_topic_tesim" -> marcSubjects(df, "Subject topic", "Subject.conceptTopic",
        "Subject.descriptiveTopic"),
      "summary_tesim" -> marcList(df, "Summary", "Description.abstract"),
      "support_tesim" -> marcList(df, "Support"),
      "system_create_dtsi" -> rawFirst(df, Seq("system_create_dtsi")),
      "system_modified_dtsi" -> coalesce(
        rawFirst(df, Seq("system_modified_dtsi", "timestamp")) +:
          now.map(lit(_)).toSeq :+ nullStr: _*),
      "tagline_ssi" -> marcStr(df, "Tagline"),
      "thumbnail_url_ss" -> iiifThumbnail(rawFirst(df, Seq("Thumbnail URL", "Thumbnail"))),
      "toc_tesim" -> marcList(df, "Table of Contents", "Description.tableOfContents"),
      "translator_tesim" -> marcList(df, "Translator"),
      "uniform_title_tesim" -> marcList(df, "AltTitle.uniform"),
      "writing_system_tesim" -> marcList(df, "Writing system"),
      // has_model: Object Type mapping (:838-872), serialized as [name]
      "has_model_ssim" -> array(mapObjectType(rawFirst(df, Seq("Object Type")))))

    // ---- computed fields (ursus_solr_record.py @computed_field bodies) ----
    // (they reference the declared names, so they run as the second select)
    val simCopies = Seq(
      "architect", "arranger", "artist", "associated_name", "author",
      "calligrapher", "cartographer", "collector", "commentator", "composer",
      "creator", "dimensions", "director", "editor", "engraver", "extent",
      "features", "form", "genre", "host", "illuminator", "illustrator",
      "interviewee", "interviewer", "librettist", "location", "lyricist",
      "medium", "musician", "named_subject", "normalized_date", "photographer",
      "place_of_origin", "printer", "printmaker", "producer", "program",
      "publisher", "recipient", "repository", "researcher", "rubricator",
      "scribe", "script", "series", "subject", "subject_cultural_object",
      "subject_domain_topic", "subject_geographic", "subject_temporal",
      "subject_topic", "support", "title", "translator", "uniform_title",
      "writing_system")
      .map(f => s"${f}_sim" -> col(s"${f}_tesim"))

    val nameSources = Seq("architect", "arranger", "artist", "author",
      "calligrapher", "cartographer", "collector", "commentator", "composer",
      "creator", "director", "editor", "engraver", "host", "illuminator",
      "illustrator", "interviewee", "interviewer", "librettist", "lyricist",
      "musician", "named_subject", "photographer", "printer", "printmaker",
      "producer", "recipient", "researcher", "rubricator", "scribe",
      "translator").map(f => coalesce(col(s"${f}_tesim"), array().cast("array<string>")))

    val subjSources = Seq("named_subject", "subject", "subject_topic",
      "subject_geographic", "subject_temporal")
      .map(f => coalesce(col(s"${f}_tesim"), array().cast("array<string>")))

    // date_parser.get_dates: sorted(set(datetime)) — dedupe + sort happen on
    // the PARSED instant, not the padded text, so '935' and '935-01-01' (same
    // instant, different strings) collapse to one endpoint exactly like the
    // reference's datetime set does
    val dateEndpoints = array_sort(array_distinct(
      transform(getDates(col("normalized_date_tesim")), _.cast("timestamp"))))

    // A copy of another computed field names it (Solr's copyField); Spark
    // resolves the name as a lateral alias of the field defined before it.
    val computed: Seq[(String, Column)] = Seq(
      "id" -> makeUrsusId(col("ark_ssi")),
      "iiif_text_direction_ssi" ->
        termId(col("human_readable_iiif_text_direction_ssi"), ControlledVocab.textDirection),
      "iiif_viewing_hint_ssi" ->
        termId(col("human_readable_iiif_viewing_hint_ssi"), ControlledVocab.viewingHint),
      "language_sim" -> col("language_tesim"),
      "human_readable_language_tesim" -> nonEmptyOrNull(
        filter(transform(col("language_tesim"),
          element_at(typedlit(ControlledVocab.languageNames), _)), _.isNotNull)),
      "human_readable_language_sim" -> col("human_readable_language_tesim"),
      "human_readable_resource_type_sim" -> col("human_readable_resource_type_tesim"),
      "resource_type_tesim" ->
        termIds(col("human_readable_resource_type_tesim"), ControlledVocab.resourceType),
      "resource_type_sim" -> col("resource_type_tesim"),
      "resource_type_ssim" -> col("resource_type_tesim"),
      "rights_statement_tesim" ->
        termIds(col("human_readable_rights_statement_tesim"), ControlledVocab.rightsStatement),
      "archival_collection_tesi" -> archivalCollection(
        col("archival_collection_title_ssi"), col("archival_collection_number_ssi"),
        col("archival_collection_box_ssi"), col("archival_collection_folder_ssi")),
      "binding_note_tesim" ->
        when(col("binding_note_ssi").isNotNull, array(col("binding_note_ssi"))).otherwise(nullArr),
      "combined_names_ssim" -> nonEmptyOrNull(array_distinct(concat(nameSources: _*))),
      "combined_subject_ssim" -> nonEmptyOrNull(concat(subjSources: _*)),
      "condition_note_ssi" -> element_at(col("condition_note_tesim"), 1),
      "date_dtsim" -> solrDates(dateEndpoints),
      "date_dtsort" -> element_at(col("date_dtsim"), 1),
      "dlcs_collection_name_tesim" -> col("member_of_collections_ssim"),
      "geographic_coordinates_ssim" -> nonEmptyOrNull(filter(
        zip_with(col("latitude_tesim"), col("longitude_tesim"), concat(_, lit(", "), _)),
        _.isNotNull)),
      "sort_title_ssort" -> element_at(col("title_tesim"), 1),
      "sort_title_tsort" -> col("sort_title_ssort"),
      "year_isim" -> integerYears(col("normalized_date_tesim")),
      "discover_access_group_ssim" ->
        when(col("visibility_ssi").isin("open", "ucla"), array(lit("public")))
          .otherwise(array().cast("array<string>")),
      "read_access_group_ssim" -> col("discover_access_group_ssim"),
      "download_access_group_ssim" -> col("discover_access_group_ssim")) ++
      simCopies ++
      now.map(ts => "timestamp" -> lit(ts).cast("string")).toSeq

    df.select(declared.map { case (n, c) => c.as(n) }: _*)
      .select(col("*") +: computed.map { case (n, c) => c.as(n) }: _*)
  }
}
