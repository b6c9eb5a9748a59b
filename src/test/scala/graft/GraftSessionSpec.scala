package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session config for every main and the test suite: a second
  * builder call anywhere under `src/` is how the mains' configs drifted
  * apart (the plan gates checked a differently configured engine from
  * the one the bench timed), so the suite refuses it. */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.scala is the only file under src/ that calls the session builder") {
    // split so this file does not match itself
    val call = ("SparkSession" + """\s*\.\s*builder""").r
    def sources(dir: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val callers = (sources("src/main") ++ sources("src/test"))
      .filter(p => call.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString)
    assert(callers.nonEmpty, "the scan found no builder call at all; is the working directory the repo root?")
    assert(callers === Seq("GraftSession.scala"))
  }

  test("SPARK_GRAFT_CPUS defaults to 4 and rejects anything but a positive integer") {
    assert(GraftSession.cpus(None) === 4)
    assert(GraftSession.cpus(Some("8")) === 8)
    assert(GraftSession.cpus(Some(" 2 ")) === 2)
    for (bad <- Seq("0", "-3", "four", "2.5", "")) {
      val e = intercept[IllegalArgumentException](GraftSession.cpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
