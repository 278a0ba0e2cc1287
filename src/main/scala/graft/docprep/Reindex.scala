package graft.docprep

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's reindex path (SURVEY.md §3.3): scan -> data repairs ->
  * re-validate -> DIFF GUARD -> writeback.
  *
  * feed_ursus/reindex.py applies `fix_for_reindex` repairs then compares the
  * repaired record against the original with DeepDiff, excluding a list of
  * legacy paths; any UNEXPLAINED change aborts that record
  * (UnexplainedChangesError, reindex.py:30-43). Re-expressed relationally:
  * the repair catalog is per-row column expressions, and the guard is a
  * column-wise normalized comparison where rows with changes outside the
  * `explained` column set go to a quarantine output instead of the new
  * snapshot — collect-don't-throw, same as the ingest error channel.
  */
object Reindex {

  /** Solr-internal fields stripped before anything else (reindex.py:57). */
  val SolrInternalFields: Seq[String] = Seq("_version_")

  /** DeepDiff exclude list (reindex.py:163-221) — legacy / hyrax / computed
    * fields where differences are EXPLAINED and never quarantine a record.
    * Used as the default `explained` set of [[guardedDiff]].
    */
  val ExcludePaths: Set[String] = Set(
    "resource_type_sim", "accessControl_ssim", "admin_set_sim",
    "admin_set_tesim", "archival_collection_tesi", "collection_sim",
    "collection_ssi", "collection_type_gid_ssim", "combined_names_ssim",
    "date_dtsim", "date_dtsort", "date_modified_dtsi", "date_uploaded_dtsi",
    "depositor_ssim", "depositor_tesim", "discover_access_group_ssim",
    "discover_access_person_ssim", "dlcs_collection_name_sim",
    "dlcs_collection_name_ssm", "download_access_group_ssim",
    "download_access_person_ssim", "edit_access_group_ssim",
    "edit_access_person_ssim", "file_set_ids_ssim", "generic_type_sim",
    "hashed_id_ssi", "hasRelatedImage_ssim", "hasRelatedMediaFragment_ssim",
    "human_readable_type_sim", "human_readable_type_tesim", "isPartOf_ssim",
    "keywords_sim", "keywords_tesim", "member_ids_ssim",
    "nesting_collection__ancestors_ssim",
    "nesting_collection__deepest_nested_depth_isi",
    "nesting_collection__parent_ids_ssim",
    "nesting_collection__pathnames_ssim", "read_access_group_ssim",
    "read_access_person_ssim", "recalculate_size_bsi", "record_origin_ssi",
    "references_sim", "references_tesim", "reindex_timestamp_dtsi", "score",
    "sort_title_ssort", "sort_year_isi", "suppressed_bsi",
    "thumbnail_link_ssi", "thumbnail_path_ss", "timestamp", "title_sim",
    "ursus_id_ssi", "year_isim")

  /** QUICK_FIXES (reindex.py:258-277) — defined in the reference but
    * commented out of normalize_value; carried as data for completeness,
    * NOT applied (parity by absence).
    */
  val QuickFixes: Map[(String, String), String] = Map(
    ("rights_statement_tesim", "unknown") ->
      "http://vocabs.library.ucla.edu/rights/unknown",
    ("rights_statement_tesim", "copyrighted") ->
      "http://vocabs.library.ucla.edu/rights/copyrighted",
    ("iiif_viewing_hint_ssi", "individuals") ->
      "http://iiif.io/api/presentation/2#individualsHint",
    ("rights_statement_tesim", "public domain") ->
      "http://vocabs.library.ucla.edu/rights/publicDomain")

  /** normalize_value (reindex.py:279-301): strip the time portion from the
    * date fields' timestamps; other strings get MARC-subfield parsing (`--`
    * join for subject fields, space otherwise) + trim; empty -> null.
    * Applied to BOTH sides before comparison so cosmetic drift never counts
    * as a change.
    */
  def normalizeValue(c: Column, fieldName: String = ""): Column = {
    val s = c.cast("string")
    val v =
      if (fieldName == "date_dtsim" || fieldName == "date_dtsort")
        regexp_replace(s, "T\\d\\d:\\d\\d:\\d\\dZ", "")
      else
        UrsusFunctions.parseMarc(s, if (fieldName.contains("subject")) "--" else " ")
    nullif(trim(v), lit(""))
  }

  /** normalize_record's access-copy escape (reindex.py:246-248): literal
    * `{}` placeholders in access_copy_ssi URLs are percent-encoded to
    * `%7B%7D` before comparison/writeback.
    */
  def escapeAccessCopy(c: Column): Column =
    regexp_replace(c, "\\{\\}", "%7B%7D")

  /** normalize_record (reindex.py:243-258): escape access_copy_ssi when the
    * column exists; falsy-value removal is the per-column nullif in
    * [[normalizeValue]].
    */
  def normalizeRecord(df: DataFrame): DataFrame =
    if (df.columns.contains("access_copy_ssi"))
      df.withColumn("access_copy_ssi", escapeAccessCopy(col("access_copy_ssi")))
    else df

  /** get_record_diff's pre-comparison cleanup of the ORIGINAL side
    * (reindex.py:144-161, 224-229): drop "registered" (and, for
    * visibility=sinai, "public") from every *_access_group_ssim /
    * *_access_person_ssim array; null the human_readable_language fields
    * when language_tesim is populated (they are recomputed from it).
    */
  def prepareOriginalForDiff(df: DataFrame): DataFrame = {
    var out = df
    val accessCols = df.columns.filter(c =>
      c.endsWith("_access_group_ssim") || c.endsWith("_access_person_ssim"))
    val hasVis = df.columns.contains("visibility_ssi")
    accessCols.foreach { c =>
      val removed = filter(col(c), v =>
        v =!= "registered" &&
          (if (hasVis) !(v === "public" && col("visibility_ssi") === "sinai")
           else lit(true)))
      out = out.withColumn(c, removed)
    }
    if (df.columns.contains("language_tesim")) {
      Seq("human_readable_language_tesim", "human_readable_language_sim")
        .filter(df.columns.contains).foreach { c =>
          out = out.withColumn(c,
            when(array_size(col("language_tesim")) > 0, lit(null)).otherwise(col(c)))
        }
    }
    out
  }

  /** Split the transformed table into (accepted, quarantined).
    *
    * @param before     original table
    * @param after      transformed table (same natural key)
    * @param keyCols    natural key columns
    * @param explained  columns where changes are expected — defaults to the
    *                   reference's DeepDiff exclude list
    * @return (rows of `after` whose only differences vs `before` are in
    *         `explained`, quarantined rows with a `_changed_cols` reason)
    */
  def guardedDiff(before: DataFrame, after: DataFrame, keyCols: Seq[String],
                  explained: Set[String] = ExcludePaths): (DataFrame, DataFrame) = {
    val shared = before.columns.toSet.intersect(after.columns.toSet)
      .diff(keyCols.toSet).toSeq.sorted
    val unexplainedCols = shared.filterNot(explained.contains)
    val isArray: Map[String, Boolean] = shared.map(c =>
      c -> (before.schema(c).dataType.typeName == "array")).toMap

    def norm(c: String, side: Column): Column =
      if (isArray(c))
        array_compact(transform(side, v => normalizeValue(v, c)))
      else normalizeValue(side, c)

    val b = prepareOriginalForDiff(normalizeRecord(before))
      .select((keyCols ++ shared).map(col): _*)
      .select(keyCols.map(col) ++
        shared.map(c => norm(c, col(c)).as(s"_b_$c")): _*)
    val joined = normalizeRecord(after).join(b, keyCols, "left")

    // DeepDiff semantics (reindex.py:231-237): ignore_order=True, and pure
    // ADDITIONS (dictionary_item_added / iterable_item_added) are popped
    // from the diff. A column therefore only flags when the original side
    // had something the new side changed or dropped: scalars — before
    // non-null and != after; arrays — before not a subset of after.
    val changeFlags = unexplainedCols.map { c =>
      val bc = col(s"_b_$c")
      val ac = norm(c, col(c))
      val changed =
        if (isArray(c))
          bc.isNotNull && size(bc) > 0 &&
            (ac.isNull || size(array_except(bc, ac)) > 0)
        else bc.isNotNull && !(bc <=> ac)
      when(changed, lit(c)).otherwise(lit(null.asInstanceOf[String]))
    }
    val withChanges = joined.withColumn("_changed_cols",
      array_compact(array(changeFlags: _*)))

    val accepted = withChanges.filter(size(col("_changed_cols")) === 0)
      .drop((shared.map(c => s"_b_$c") :+ "_changed_cols"): _*)
    val quarantined = withChanges.filter(size(col("_changed_cols")) > 0)
      .drop(shared.map(c => s"_b_$c"): _*)
    (accepted, quarantined)
  }

  /** relocate_computed_field (reindex.py:108-137): the computed field is
    * always removed; where the base field is empty and the computed value is
    * present, the value moves to the base field with known URIs translated
    * back to their human-readable labels (functional-Enum name -> value,
    * controlled_fields.py — NAME is the URI, VALUE the label).
    *
    * @param uriToLabel URI -> label (unknown URIs pass through verbatim)
    */
  def relocateComputedField(df: DataFrame, baseField: String,
                            computedField: String,
                            uriToLabel: Map[String, String]): DataFrame = {
    if (!df.columns.contains(computedField)) return df
    val m = typedlit(uriToLabel)
    val cf = col(computedField)
    val mapped =
      if (df.schema(computedField).dataType.typeName == "array")
        transform(cf, v => coalesce(element_at(m, v), v))
      else coalesce(element_at(m, cf), cf)
    val out =
      if (df.columns.contains(baseField)) {
        val baseEmpty =
          if (df.schema(baseField).dataType.typeName == "array")
            col(baseField).isNull || size(col(baseField)) === 0
          else col(baseField).isNull
        df.withColumn(baseField,
          when(baseEmpty && cf.isNotNull, mapped).otherwise(col(baseField)))
      } else df.withColumn(baseField, mapped)
    out.drop(computedField)
  }

  /** fix_for_reindex (reindex.py:50-105) — the full repair catalog:
    *  1. drop solr-internal fields;
    *  2. relocate the four computed fields back to their human_readable /
    *     base sources, URIs translated to labels;
    *  3. collation_ssi / foliation_ssi -> single-element *_tesim when the
    *     tesim is absent (the ssi is nulled only where the move happened);
    *  4. merge the three local_identifier variants into one deduplicated,
    *     order-preserving local_identifier_ssim (variants always dropped).
    */
  def repair(df: DataFrame): DataFrame = {
    var out = df.drop(SolrInternalFields: _*)

    // ControlledVocab tables are URI -> label, exactly the Enum[name].value
    // direction relocate_computed_field uses
    out = relocateComputedField(out, "human_readable_rights_statement_tesim",
      "rights_statement_tesim", ControlledVocab.rightsStatement)
    out = relocateComputedField(out, "human_readable_resource_type_tesim",
      "resource_type_tesim", ControlledVocab.resourceType)
    out = relocateComputedField(out, "human_readable_iiif_viewing_hint_ssi",
      "iiif_viewing_hint_ssi", ControlledVocab.viewingHint)
    out = relocateComputedField(out, "human_readable_iiif_text_direction_ssi",
      "iiif_text_direction_ssi", ControlledVocab.textDirection)

    Seq("collation", "foliation").foreach { base =>
      val ssi = s"${base}_ssi"
      val tesim = s"${base}_tesim"
      if (out.columns.contains(ssi)) {
        val hasTesim = out.columns.contains(tesim)
        val tesimEmpty =
          if (hasTesim) col(tesim).isNull else lit(true)
        // materialize the move decision BEFORE mutating tesim — a second
        // withColumn referencing col(tesim) would see the updated column
        out = out.withColumn("_moved", tesimEmpty && col(ssi).isNotNull)
          .withColumn(tesim,
            when(col("_moved"), array(col(ssi)))
              .otherwise(if (hasTesim) col(tesim)
                         else lit(null).cast("array<string>")))
          .withColumn(ssi, when(col("_moved"), lit(null)).otherwise(col(ssi)))
          .drop("_moved")
      }
    }

    val idVariants = Seq("local_identifier_ssim", "local_identifier_ssm",
      "local_identifier_sim").filter(out.columns.contains)
    if (idVariants.nonEmpty) {
      val merged = array_distinct(concat(idVariants.map(c =>
        coalesce(col(c), array().cast("array<string>"))): _*))
      out = out.withColumn("local_identifier_ssim", UrsusFunctions.nonEmptyOrNull(merged))
      idVariants.filterNot(_ == "local_identifier_ssim")
        .foreach(c => out = out.drop(c))
    }
    out
  }
}
