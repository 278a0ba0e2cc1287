package graft

import graft.analysis.Analyzer
import graft.core.CodeDoc
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexMeta, QueryFilter, Snapshot, Tombstones}
import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The fq compiler against a brute-force evaluator over the raw documents.
  * Random filter strings cover the whole Q1 grammar — keyword, `NOT`, `OR`,
  * `field:*`, `NOT field:*`, `*:*` and analyzed `content:`/`path:` terms —
  * on an index with a null-`lang` doc, a doc with no content tokens and
  * committed tombstones. FilteredSearchSpec's oracle is
  * [[QueryFilter.matchingDocs]] itself, so this spec is what anchors the
  * filtered-search chain to the grammar's meaning.
  */
class QueryFilterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val nRepos = 8

  /** Corpus docs plus a null-`lang` doc and a doc whose content has no
    * tokens (so `content:*` is not total).
    */
  lazy val docs: Seq[CodeDoc] =
    (0L until 300L).map(CodeCorpus.genDoc(_, nRepos)) ++ Seq(
      CodeDoc("repo-0001", "src/nolang/Readme", "0000000000aa", null, "buffer of plain words"),
      CodeDoc("repo-0002", "src/empty/Blank.txt", "0000000000bb", "md", ";; () ;;"))

  /** (index dir, docId of each doc in `docs`, tombstoned docIds). */
  lazy val fixture: (String, IndexedSeq[Long], Set[Long]) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftqf").toString
    IndexBuilder.build(spark, docs.toDS().repartition(4), dir,
      IndexConfig(buckets = 16, blockSize = 64, saltRange = 128, shufflePartitions = 4))
    val idOf = spark.read.parquet(s"$dir/docstats")
      .select($"repo", $"path", $"commit", $"docId").as[(String, String, String, Long)]
      .collect().map { case (r, p, c, id) => (r, p, c) -> id }.toMap
    val ids = docs.map(d => idOf((d.repo, d.path, d.commit))).toIndexedSeq
    // two commits, so the reader unions more than one tombstone file
    val rng = new scala.util.Random(7)
    val dead = rng.shuffle(ids.dropRight(2)).take(24)
    Tombstones.commitDeletes(spark, dir, dead.take(10))
    Tombstones.commitDeletes(spark, dir, dead.drop(10))
    (dir, ids, dead.toSet)
  }

  /** Today's semantics, literally: OR is union, NOT is the complement over
    * all docs, `*:*` ignores a leading NOT, and a keyword test on a null
    * value is false; tombstoned docs never match.
    */
  private def bruteForce(fq: String): Set[Long] = {
    val (_, ids, dead) = fixture
    def fieldText(d: CodeDoc, f: String): String = f match {
      case "repo" => d.repo
      case "path" => d.path
      case "commit" => d.commit
      case "lang" => d.lang
      case "content" => d.content
    }
    def tokens(d: CodeDoc, f: String): Set[String] = Analyzer.analyzeField(f, fieldText(d, f)).toSet
    def clause(d: CodeDoc, c: QueryFilter.Clause): Boolean = c match {
      case QueryFilter.MatchAll => true
      case QueryFilter.ExistsClause(f, neg) =>
        val exists = f match {
          case "content" | "path" | "repo" => tokens(d, f).nonEmpty
          case other => fieldText(d, other) != null
        }
        exists != neg
      case QueryFilter.TermClause(f, v, neg) =>
        val hit = f match {
          case "content" | "path" =>
            tokens(d, f).contains(Analyzer.analyzeField(f, v).headOption.getOrElse(v))
          case other => v == fieldText(d, other)
        }
        hit != neg
    }
    val clauses = QueryFilter.parse(fq)
    docs.indices.iterator
      .filter(i => clauses.exists(clause(docs(i), _)))
      .map(ids).filterNot(dead).toSet
  }

  /** A random filter from the full Q1 grammar: 1-3 OR'd clauses. */
  private def randomFq(rng: scala.util.Random): String = {
    val langs = CodeCorpus.Langs.map(_._1).toSeq :+ "cobol"
    val repos = (0 until nRepos).map("repo-%04d".format(_)) :+ "repo-9999"
    val contentWords = Seq("buffer", "Buffers", "lazy", "implicit", "return", "plain", "zzzqqq")
    val pathWords = Seq("src", "pkg3", "mod7", "nolang", "empty", "scala", "nowhere")
    def not: String = if (rng.nextInt(3) == 0) "NOT " else ""
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    Seq.fill(1 + rng.nextInt(3)) {
      rng.nextInt(9) match {
        case 0 | 1 => s"${not}lang:${pick(langs)}"
        case 2 => s"${not}repo:${pick(repos)}"
        case 3 => s"$not${pick(Seq("lang", "content", "path", "repo"))}:*"
        case 4 => s"$not*:*"
        case 5 | 6 => s"${not}content:${pick(contentWords)}"
        case 7 => s"${not}path:${pick(pathWords)}"
        case _ => s"${not}commit:${pick(docs.take(3).map(_.commit) :+ "ffffffffffff")}"
      }
    }.mkString(pick(Seq(" OR ", " or ")))
  }

  /** 11 fixed filters plus 30 random ones. */
  lazy val fqs: Seq[String] = {
    val fixed = Seq("lang:scala", "NOT lang:scala", "NOT lang:md OR lang:md", "lang:*",
      "NOT lang:*", "content:*", "NOT content:*", "NOT content:buffer",
      "path:* OR NOT repo:repo-0003", "NOT *:*", "repo:no-such-repo")
    val rng = new scala.util.Random(20240601L)
    fixed ++ Seq.fill(30)(randomFq(rng))
  }

  test("random Q1 filters == brute force over the raw docs (null lang, tombstones)") {
    import spark.implicits._
    val (dir, ids, dead) = fixture
    // the fixture exercises what it claims to
    assert(bruteForce("NOT lang:*") == Set(ids(docs.size - 2)))
    assert(bruteForce("NOT content:*") == Set(ids(docs.size - 1)))
    assert(dead.nonEmpty && bruteForce("*:*").size == docs.size - dead.size)
    for (fq <- fqs) {
      val got = QueryFilter.matchingDocs(spark, dir, fq).select($"docId").as[Long].collect()
      assert(got.length == got.distinct.length, s"duplicate rows for fq='$fq'")
      assert(got.toSet == bruteForce(fq), s"fq='$fq'")
    }
  }

  /** 20 random pairs of filters, the repeated-fq input. */
  lazy val fqPairs: Seq[(String, String)] = {
    val rng = new scala.util.Random(20241019L)
    Seq.fill(20)((randomFq(rng), randomFq(rng)))
  }

  test("random fq pairs: the folded conjunction == brute-force intersection") {
    import spark.implicits._
    val (dir, _, dead) = fixture
    val meta = IndexMeta.fromProps(new Snapshot(dir).readProps())
    val stats = spark.read.schema(IndexBuilder.DocStatsSchema).parquet(s"$dir/docstats")
    val postings = spark.read.schema(IndexBuilder.PostingsSchema).parquet(s"$dir/postings")
    // the searcher resolves repeated fqs the same way, over driver-local
    // rows when it is resident and over scans when it is not
    val resident = new Searcher(spark, dir)
    val scanned = new Searcher(spark, Seq(dir),
      SearchConfig(driverKernelMaxPostings = meta.residentBound - 1))
    var nonEmpty = 0
    for ((f1, f2) <- fqPairs) {
      val expect = bruteForce(f1).intersect(bruteForce(f2))
      val conj = Seq(f1, f2).foldLeft(stats)(QueryFilter.filter(_, postings, meta.buckets, _))
      val got = conj.select($"docId").as[Long].collect().filterNot(dead)
      assert(got.length == got.distinct.length, s"duplicate rows for [$f1, $f2]")
      assert(got.toSet == expect, s"fqs=[$f1, $f2]")
      if (expect.nonEmpty) nonEmpty += 1
      for (q <- Seq("buffer", "def class return")) {
        val hits = resident.search(q, 10, resident.DefaultFields, Seq(f1, f2)).toSeq
        assert(hits == scanned.search(q, 10, scanned.DefaultFields, Seq(f2, f1)).toSeq,
          s"q='$q' fqs=[$f1, $f2]")
        assert(hits.forall(h => expect(h.docId)), s"q='$q' fqs=[$f1, $f2]")
      }
    }
    assert(nonEmpty > fqPairs.size / 4, "too few pairs match any doc")
    resident.close(); scanned.close()
  }

  test("matched rows carry exactly the docstats columns") {
    val (dir, _, _) = fixture
    // names and types, in order (a filter may tighten nullability)
    def cols(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val expected = cols(spark.read.parquet(s"$dir/docstats"))
    for (fq <- Seq("lang:scala", "content:buffer OR NOT path:src", "*:*", "repo:*")) {
      assert(cols(QueryFilter.matchingDocs(spark, dir, fq)) == expected, s"fq='$fq'")
    }
  }

  test("a resident searcher's fq hits are bit-identical to a scanning searcher's") {
    // the resident segment resolves docstats-predicate fqs over its loaded
    // rows; the other scans docstats for every fq
    val (dir, _, dead) = fixture
    val meta = IndexMeta.fromProps(new Snapshot(dir).readProps())
    val resident = new Searcher(spark, dir)
    val scanned = new Searcher(spark, Seq(dir),
      SearchConfig(driverKernelMaxPostings = meta.residentBound - 1))
    assert(resident.residentSegments == Seq(0))
    assert(scanned.residentSegments.isEmpty)
    var nonEmpty = 0
    for (fq <- fqs; q <- Seq("buffer", "def class return")) {
      val got = resident.search(q, 10, fq = Some(fq)).toSeq
      assert(got == scanned.search(q, 10, fq = Some(fq)).toSeq, s"q='$q' fq='$fq'")
      assert(got.forall(h => bruteForce(fq)(h.docId) && !dead(h.docId)), s"q='$q' fq='$fq'")
      if (got.nonEmpty) nonEmpty += 1
      assert(resident.fqResolves.get() == scanned.fqResolves.get(), s"fq='$fq'")
    }
    assert(nonEmpty > fqs.size / 2, "too few filtered queries have hits")
    resident.close(); scanned.close()
  }
}
