package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps `BenchEnv` the only session builder and the only per-query
  * runner in the engine (tests are exempt). */
class SourceContractSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  /** The files under src/main/scala whose text contains `needle`,
    * relative to that root. */
  private def filesMentioning(needle: String): Set[String] = {
    val walk = Files.walk(main)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(p => main.relativize(p).toString).toSet
    finally walk.close()
  }

  test("only BenchEnv builds a SparkSession") {
    assert(Files.isDirectory(main))
    // split so that a grep of src/ for the call finds BenchEnv alone
    assert(filesMentioning("SparkSession" + ".builder") == Set("graft/BenchEnv.scala"))
  }

  test("pin snapshots and releases appear only in BenchEnv and the Graft facade") {
    val allowed = Set("graft/BenchEnv.scala", "graft/api/Graft.scala")
    Seq("pinSnapshot", "releaseQueryPins").foreach { f =>
      val users = filesMentioning(f)
      assert(users.subsetOf(allowed), s"$f used outside the runner: ${users -- allowed}")
    }
  }
}
