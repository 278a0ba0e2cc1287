package graft

import graft.docprep.{ControlledVocab, UrsusRecord}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, StringSplit}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types.{StructField, StructType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** UrsusRecord.project against the reference's own test vectors
  * (tests/test_ursus_solr_record.py, tests/conftest.py, tests/fixtures/).
  */
class UrsusRecordSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def one(cols: (String, String)*): DataFrame = {
    val base = Seq("Item ARK" -> "ark:/123/test", "Title" -> "Test Item")
    val all = (base.toMap ++ cols.toMap).toSeq
    val schema = StructType(all.map(c => StructField(c._1, StringType)))
    spark.createDataFrame(
      java.util.List.of(Row(all.map(_._2): _*)), schema)
  }

  private def project(cols: (String, String)*): Row =
    UrsusRecord.project(one(cols: _*)).collect()(0)

  private def get[T](r: Row, name: String): T = r.getAs[T](name)
  private def intsOf(r: Row, name: String): Seq[Int] =
    Option(r.getAs[scala.collection.Seq[Int]](name)).map(_.toSeq).orNull
  private def seqOf(r: Row, name: String): Seq[String] =
    Option(r.getAs[scala.collection.Seq[String]](name)).map(_.toSeq).orNull

  test("minimal record: id is reversed ark (test_util.py TestUrsusId)") {
    val r = project()
    assert(get[String](r, "ark_ssi") == "ark:/123/test")
    assert(get[String](r, "id") == "tset-321")
    assert(seqOf(r, "title_tesim") == Seq("Test Item"))
    assert(get[String](r, "sort_title_tsort") == "Test Item")
    assert(seqOf(r, "title_sim") == Seq("Test Item"))
    // Visibility absent entirely -> open -> public access groups (:1576-1593)
    assert(get[String](r, "visibility_ssi") == "open")
    assert(seqOf(r, "discover_access_group_ssim") == Seq("public"))
    assert(seqOf(r, "read_access_group_ssim") == Seq("public"))
  }

  test("rights statement vectors incl. pd alias (test_ursus_solr_record.py:26-54)") {
    val cases = Seq(
      "unknown" -> Seq("http://vocabs.library.ucla.edu/rights/unknown"),
      "copyrighted" -> Seq("http://vocabs.library.ucla.edu/rights/copyrighted"),
      "public domain" -> Seq("http://vocabs.library.ucla.edu/rights/publicDomain"),
      "pd" -> Seq("http://vocabs.library.ucla.edu/rights/publicDomain"),
      "" -> null)
    cases.foreach { case (in, expect) =>
      val r = project("Rights.copyrightStatus" -> in)
      assert(seqOf(r, "rights_statement_tesim") == expect, s"input '$in'")
    }
  }

  test("language parsing vectors (test_ursus_solr_record.py:235-263)") {
    val r = project("Language" -> "eng|~|fre")
    assert(seqOf(r, "language_tesim") == Seq("eng", "fre"))
    assert(seqOf(r, "language_sim") == Seq("eng", "fre"))
    assert(seqOf(r, "human_readable_language_tesim") == Seq("English", "French"))
    assert(seqOf(r, "human_readable_language_sim") == Seq("English", "French"))
    val empty = project("Language" -> "")
    assert(seqOf(empty, "language_tesim") == null)
    assert(seqOf(empty, "human_readable_language_tesim") == null)
    // the full 606-entry table is loaded
    assert(ControlledVocab.languageNames.size >= 600)
    assert(ControlledVocab.languageNames("zxx") == "No linguistic content")
  }

  test("object type mapping -> has_model_ssim single-element list (:208-224)") {
    assert(seqOf(project("Object Type" -> "Manuscript"), "has_model_ssim") == Seq("Work"))
    assert(seqOf(project("Object Type" -> "Page"), "has_model_ssim") == Seq("ChildWork"))
    assert(seqOf(project("Object Type" -> "Collection"), "has_model_ssim") == Seq("Collection"))
    assert(seqOf(project(), "has_model_ssim") == Seq("Work"))
  }

  test("geographic coordinates zip (:171-181)") {
    val r = project("Description.latitude" -> "1.0|~|2.0",
      "Description.longitude" -> "3.0|~|4.0")
    assert(seqOf(r, "latitude_tesim") == Seq("1.0", "2.0"))
    assert(seqOf(r, "geographic_coordinates_ssim") == Seq("1.0, 3.0", "2.0, 4.0"))
  }

  test("resource type serializes by URI id for sim/ssim/tesim, label for human_readable") {
    val r = project("Type.typeOfResource" -> "still image|~|text")
    val uris = Seq("http://id.loc.gov/vocabulary/resourceTypes/img",
      "http://id.loc.gov/vocabulary/resourceTypes/txt")
    assert(seqOf(r, "resource_type_sim") == uris)
    assert(seqOf(r, "resource_type_ssim") == uris)
    assert(seqOf(r, "resource_type_tesim") == uris)
    assert(seqOf(r, "human_readable_resource_type_sim") == Seq("still image", "text"))
  }

  test("combined names: order-preserving dedup across 31 sources (:514-554)") {
    val r = project("Author" -> "Smith, A.|~|Jones, B.", "Name.creator" -> "Smith, A.",
      "Scribe" -> "Calliope")
    assert(seqOf(r, "combined_names_ssim") == Seq("Smith, A.", "Jones, B.", "Calliope"))
    assert(seqOf(r, "author_sim") == Seq("Smith, A.", "Jones, B."))
    assert(seqOf(r, "scribe_sim") == Seq("Calliope"))
  }

  test("combined subject concatenates without dedup (:556-565)") {
    val r = project("Name.subject" -> "X", "Subject" -> "X|~|Y", "Subject temporal" -> "Z")
    assert(seqOf(r, "combined_subject_ssim") == Seq("X", "X", "Y", "Z"))
  }

  test("normalized date machinery: year_isim, date_dtsim, dtsort, A<=B validity") {
    val r = project("Date.normalized" -> "1941-10/1942|~|935")
    assert(intsOf(r, "year_isim") == Seq(935, 1941, 1942))
    // python strftime %Y does not zero-pad (reference parity, matched
    // against the actual pydantic model; FIXTURES.md §3)
    assert(seqOf(r, "date_dtsim") == Seq("935-01-01T00:00:00Z",
      "1941-10-01T00:00:00Z", "1942-01-01T00:00:00Z"))
    assert(get[String](r, "date_dtsort") == "935-01-01T00:00:00Z")
    // invalid range (start after end, date_parser.py:40-41) is dropped
    val bad = project("Date.normalized" -> "1950/1940")
    assert(seqOf(bad, "normalized_date_tesim") == null)
    assert(intsOf(bad, "year_isim") == null)
    // valid range next to it survives
    val mixed = project("Date.normalized" -> "1950/1940|~|1960/1961")
    assert(seqOf(mixed, "normalized_date_tesim") == Seq("1960/1961"))
    assert(intsOf(mixed, "year_isim") == Seq(1960, 1961))
  }

  test("marc parsing + subjects use -- joins (util.py:60-109)") {
    val r = project("Subject" -> "Music $z Spain $z Catalonia",
      "Note" -> "$a Title $b Author")
    assert(seqOf(r, "subject_tesim") == Seq("Music--Spain--Catalonia"))
    assert(seqOf(r, "note_tesim") == Seq("Title Author"))
  }

  test("thumbnail iiif suffix + preservation copy pattern (:1165-1176,1514-1522)") {
    val r = project(
      "Thumbnail URL" -> "https://iiif.library.ucla.edu/iiif/2/abc123",
      "File Name" -> "Masters/dlmasters/x/y.tif")
    assert(get[String](r, "thumbnail_url_ss") ==
      "https://iiif.library.ucla.edu/iiif/2/abc123/full/!200,200/0/default.jpg")
    assert(get[String](r, "preservation_copy_ssi") == "Masters/dlmasters/x/y.tif")
    val bad = project("File Name" -> "somewhere/else.tif")
    assert(get[String](bad, "preservation_copy_ssi") == null)
  }

  test("member_of_collection_ids from Parent ARK via make_ursus_id") {
    val r = project("Parent ARK" -> "ark:/21198/zz001nx6px")
    assert(seqOf(r, "member_of_collection_ids_ssim") == Seq("xp6xn100zz-89112"))
  }

  test("distinct `now` values stamp only the two timestamp fields") {
    val df = one("Visibility" -> "open", "Language" -> "eng")
    val nows = (1 to 3).map(i => f"2026-01-$i%02dT00:00:00Z")
    val rows = nows.map(n => UrsusRecord.project(df, now = Some(n)).collect()(0))
    val stamped = Set("timestamp", "system_modified_dtsi")
    def unstamped(r: Row): Seq[Any] =
      r.schema.fieldNames.toSeq.filterNot(stamped).map(r.getAs[Any])
    rows.zip(nows).foreach { case (r, n) =>
      assert(get[String](r, "timestamp") == n)
      assert(get[String](r, "system_modified_dtsi") == n)
      assert(unstamped(r) == unstamped(rows.head))
    }
  }

  test("edge cells: absent, null, empty, separator-only, subfield codes, pd, bad date endpoints") {
    // every case writes the same cell into each of these source columns
    val sources = Seq("Note", "Subject", "Rights.copyrightStatus", "Date.normalized", "Parent ARK")
    val none: Map[String, Seq[Any]] = Seq("note_tesim", "subject_tesim",
      "rights_statement_tesim", "normalized_date_tesim", "year_isim", "date_dtsim",
      "member_of_collection_ids_ssim").map(_ -> null).toMap
    def listed(v: String*) = Seq("note_tesim", "subject_tesim", "rights_statement_tesim")
      .map(_ -> v.toSeq).toMap
    val publicDomain = "http://vocabs.library.ucla.edu/rights/publicDomain"
    val cases: Seq[(String, Option[String], Map[String, Seq[Any]])] = Seq(
      ("absent column", None, none),
      ("null cell", Some(null), none),
      ("empty", Some(""), none),
      ("separator only", Some("|~|"), none),
      ("spaced separator", Some(" |~|  "), none),
      ("subfield code only", Some("$a "), none ++ listed("$a") ++
        Map("member_of_collection_ids_ssim" -> Seq("a$"))),
      ("interior subfield element", Some("x|~| $a |~|y"), none ++ listed("x", "y") ++
        Map("subject_tesim" -> Seq("x", "--", "y"), "member_of_collection_ids_ssim" -> Seq("x", "y"))),
      ("pd alias", Some("pd"), none ++ listed("pd") ++
        Map("rights_statement_tesim" -> Seq(publicDomain), "member_of_collection_ids_ssim" -> Seq("dp"))),
      // month 13 matches the grammar but does not parse: the range and the
      // single date are dropped, their valid neighbour kept
      ("unparsable endpoints", Some("1941/1942-13|~|1942-13|~|1950"), none ++
        listed("1941/1942-13", "1942-13", "1950") ++ Map(
          "normalized_date_tesim" -> Seq("1950"), "year_isim" -> Seq(1950),
          "date_dtsim" -> Seq("1950-01-01T00:00:00Z"),
          "member_of_collection_ids_ssim" -> Seq("31-2491-1491", "1942-13", "0591"))))
    cases.foreach { case (name, cell, expect) =>
      val r = project(cell.toSeq.flatMap(v => sources.map(_ -> v)): _*)
      expect.foreach { case (field, want) =>
        val got = Option(r.getAs[scala.collection.Seq[Any]](field)).map(_.toSeq).orNull
        assert(got == want, s"$name: $field")
      }
    }
  }

  test("plan shape: one split per list column, one language map") {
    // one source column per list field, every output column selected; the
    // cells are computed, so the optimizer can neither fold them nor
    // evaluate the projection over a local relation
    val lists = Seq("Title", "Language", "Subject", "Note", "Date.normalized", "Parent ARK",
      "Rights.copyrightStatus", "Type.typeOfResource", "Description.latitude",
      "Description.longitude", "Author", "Name.creator")
    val cell = concat(lit("a|~|"), col("id").cast("string"))
    val out = UrsusRecord.project(spark.range(1).select(lists.map(cell.as(_)): _*))
    val exprs = out.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val splits = exprs.count(_.isInstanceOf[StringSplit])
    val languageMaps = exprs.count {
      case Literal(m: MapData, _) => m.numElements() == ControlledVocab.languageNames.size
      case _ => false
    }
    assert(splits == lists.size, s"$splits splits for ${lists.size} list columns")
    assert(languageMaps == 1, s"the language map appears $languageMaps times")
  }

  test("reference fixture csv projects end-to-end (tests/fixtures/anais_work_simple.csv)") {
    val df = spark.read.option("header", "true")
      .csv("fixtures/anais_work_simple.csv")
    val out = UrsusRecord.project(df, now = Some("2026-05-19T19:20:00Z"))
    val r = out.collect()(0)
    assert(get[String](r, "ark_ssi") == "ark:/21198/zz00256728")
    assert(get[String](r, "visibility_ssi") == "ucla")
    assert(seqOf(r, "discover_access_group_ssim") == Seq("public"))
    assert(seqOf(r, "resource_type_sim") ==
      Seq("http://id.loc.gov/vocabulary/resourceTypes/img"))
    // the fixture csv stores the name NFD-decomposed (i + combining acute)
    assert(seqOf(r, "named_subject_tesim") == Seq("Nin, Joaquín, 1879-1949"))
    assert(get[String](r, "preservation_copy_ssi") ==
      "Masters/dlmasters/ninan/image/21198-zz00256728_1659676_master.tif")
    assert(seqOf(r, "has_model_ssim") == Seq("Work"))
    assert(get[String](r, "timestamp") == "2026-05-19T19:20:00Z")
    assert(get[String](r, "iiif_manifest_url_ssi") ==
      "https://iiif.library.ucla.edu/ark%3A%2F21198%2Fzz00256728/manifest")
    // ~170 output columns: the full declared + computed surface
    assert(out.columns.length >= 165, s"only ${out.columns.length} columns")
  }
}
