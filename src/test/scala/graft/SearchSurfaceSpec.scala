package graft

import graft.query.{SearchConfig, Searcher}
import org.scalatest.funsuite.AnyFunSuite

/** The search API's surface: every public `search*` entry point goes through
  * one router, and every `SearchConfig` field is a route bound that specs
  * force. A new overload or knob has to change this gate on purpose.
  */
class SearchSurfaceSpec extends AnyFunSuite {

  test("Searcher has exactly the seven public search entry points") {
    val methods = classOf[Searcher].getMethods.toSeq
      .filter(m => m.getName.startsWith("search") && !m.getName.contains("$"))
      .map(m => s"${m.getName}(${m.getParameterTypes.map(_.getSimpleName).mkString(", ")})")
      .sorted
    assert(methods == Seq(
      "search(String, int, Seq, Option)",
      "search(String, int, Seq, Seq)",
      "searchDF(String, int, Seq, Option)",
      "searchDF(String, int, Seq, Seq)",
      "searchMany(Seq, int, Seq, Option)",
      "searchMany(Seq, int, Seq, Seq)",
      "searchManyDistributed(Seq, int, Seq, Option)"))
  }

  test("SearchConfig has exactly its six route bounds") {
    assert(SearchConfig().productElementNames.toSeq == Seq(
      "driverKernelMaxPostings", "normsMaxDocs", "tombstonesMaxBroadcast",
      "fqMaxBroadcast", "dictionaryMaxDriverTerms", "dictionaryMaxCacheTerms"))
  }
}
