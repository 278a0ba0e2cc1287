package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The program's environment surface is deployment settings plus the one
  * stage-timing switch: a tuning knob read from the environment is an
  * option no test or benchmark covers, so one cannot come back silently.
  */
class EnvSurfaceSpec extends AnyFunSuite {

  test("src/main reads exactly the four documented environment variables") {
    val files: Seq[Path] = {
      val walk = Files.walk(Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty)
    val read = """(?:sys\.env|System\.getenv)""".r
    val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val names = files.flatMap { f =>
      val src = Files.readString(f)
      val found = named.findAllMatchIn(src).map(_.group(1)).toList
      // every read names its variable literally, so the set below is complete
      assert(read.findAllMatchIn(src).size == found.size, s"non-literal env read in $f")
      found
    }.toSet
    assert(names == Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_DRIVER_MEM", "SPARK_GRAFT_TIMING"))
  }
}
