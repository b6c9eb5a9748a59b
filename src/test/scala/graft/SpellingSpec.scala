package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** One spelling per decision: the fixed-query-set brute scan and the
  * per-query top-k rank live in one function each of VectorOps
  * (`bruteScan`, `topK`). Every exact ANN baseline depends on that one
  * tie-break, and a bounded per-query heap replaces one function, not
  * a dozen copies, so a second copy of either spelling fails here. */
class SpellingSpec extends AnyFunSuite {

  // split so this file does not match itself
  private val bruteScan: Regex = ("crossJoin" + """\(\s*broadcast\(\s*qs\s*\)\s*\)""").r
  private val queryRank: Regex = ("partitionBy" + """\(\s*(col\(\s*)?"q_id"\s*\)?\s*\)""").r

  private def count(re: Regex, text: String): Int = re.findAllMatchIn(text).size

  private def sources(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("src/main holds one brute scan, and VectorOps one per-query rank") {
    val mains = sources("src/main")
    assert(mains.nonEmpty, "the scan found no sources; is the working directory the repo root?")
    val scans = mains.map(p => p.getFileName.toString -> count(bruteScan, Files.readString(p)))
      .filter(_._2 > 0)
    assert(scans === Seq("VectorOps.scala" -> 1),
      "route every fixed-query-set scan through VectorOps.bruteScan")
    val vectorOps = Files.readString(Paths.get("src/main/scala/graft/pipeline/VectorOps.scala"))
    assert(count(queryRank, vectorOps) === 1,
      "route every per-q_id rank of VectorOps through VectorOps.topK")
  }

  test("both patterns count the spellings they replaced") {
    val brute = "e.crossJoin(broadcast(qs))\n  .filter(col(\"vec_id\") =!= col(\"q_id\"))"
    assert(count(bruteScan, brute * 2) === 2)
    val ranks = Seq(
      "Window.partitionBy(col(\"q_id\")).orderBy(col(\"c\").desc, col(\"vec_id\"))",
      "Window\n  .partitionBy(\"q_id\").orderBy(col(\"dst\"), col(\"vec_id\"))")
    assert(count(queryRank, ranks.mkString("\n")) === 2)
    // the fused search's (leg, q_id) ranks are its own decision
    assert(count(queryRank, "Window.partitionBy(col(\"leg\"), col(\"q_id\"))") === 0)
  }
}
