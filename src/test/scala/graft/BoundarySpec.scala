package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One-way boundary: the curation surface (`graft.pipeline` and the
  * curation query modules) builds on the Phoebe core, and the core never
  * names the curation surface. The mains and `SparkEntry`, which
  * aggregate both, are neither. */
class BoundarySpec extends AnyFunSuite {
  import BoundarySpec._

  test("no file of the Phoebe core names the curation surface") {
    val mains = sources(Root)
    val core = mains.filter(p => isCore(p.toString))
    assert(core.size > 40, s"the scan found ${core.size} core files; is the working directory the repo root?")
    val found = core.flatMap(p => violations(p.toString, Files.readString(p)).map(p.getFileName + ": " + _))
    assert(found.isEmpty)
    // the managed jobs' package does not even mention it in a comment
    val streaming = mains.filter(_.toString.contains("/graft/streaming/"))
      .filter(p => Files.readString(p).contains("graft" + ".pipeline"))
    assert(streaming.isEmpty)
  }

  test("the rule rejects a planted import and passes comments and MLlib's pipeline") {
    assert(Set("TextOps", "CurationStreams", "TextQueries").subsetOf(curationNames))
    val planted = "package graft.queries\n\nimport graft" + ".pipeline.TextOps\n"
    assert(violations(s"$Root/queries/MlQueries.scala", planted).nonEmpty)
    assert(violations(s"$Root/pipeline/SketchOps.scala", planted).isEmpty, "curation may name curation")
    assert(violations(s"$Root/Tables.scala", "package graft\nimport pipeline" + ".TextOps\n").nonEmpty)
    assert(violations(s"$Root/metrics/AggOps.scala", "val n = Text" + "Queries.queries.size").nonEmpty)
    // a string's "//" starts no comment
    assert(violations(s"$Root/api/RestFacade.scala",
      "val u = \"http://h\"; val t = graft" + ".pipeline.TextOps.tokens").nonEmpty)
    val gbt = Paths.get(s"$Root/models/LatencyGbt.scala")
    assert(Files.readString(gbt).contains("def pipeline("))
    assert(violations(gbt.toString, Files.readString(gbt)).isEmpty)
    val commented = "/** twin of [[graft" + ".pipeline.TextOps.langId]] /* nested */ */\n" +
      "// Text" + "Ops runs the pipeline\nobject X"
    assert(violations(s"$Root/models/X.scala", commented).isEmpty)
  }
}

object BoundarySpec {
  val Root = "src/main/scala/graft"

  val CorePackages = Set("timeseries", "metrics", "models", "sources", "api", "functions", "streaming")
  val CoreModules = Set("TimeSeriesQueries", "MetricQueries", "SmoothQueries", "AggQueries",
    "MlQueries", "ModelQueries", "OpsQueries", "RelationalQueries", "QueryModule")
  val CoreRoot = Set("CacheScope", "GraftSession", "GraftExtensions", "Tables")

  def sources(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  def isCore(path: String): Boolean = path.split(s"$Root/", 2) match {
    case Array(_, rel) => rel.stripSuffix(".scala").split('/').toList match {
      case List(file) => CoreRoot(file)
      case List("queries", file) => CoreModules(file)
      case pkg :: _ => CorePackages(pkg)
      case Nil => false
    }
    case _ => false
  }

  /** The top-level names the curation surface defines: everything under
    * `pipeline/` and the query modules that are not core. */
  lazy val curationNames: Set[String] = {
    val top = """(?m)^(?:final\s+)?(?:case\s+)?(?:object|class|trait)\s+(\w+)""".r
    sources(Root).filter { p =>
      val s = p.toString
      s.contains("/pipeline/") || (s.contains("/queries/") && !isCore(s))
    }.flatMap(p => top.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
  }

  /** `text` with its line and (nested) block comments blanked. String
    * literals are kept, so a "//" inside one starts no comment. */
  def code(text: String): String = {
    val out = new StringBuilder(text.length)
    var i = 0
    var depth = 0
    var lineComment = false
    var quote: String = null
    def at(s: String) = text.startsWith(s, i)
    def keep(n: Int): Unit = { out ++= text.substring(i, math.min(i + n, text.length)); i += n }
    def blank(n: Int): Unit = {
      text.substring(i, math.min(i + n, text.length)).foreach(c => out += (if (c == '\n') c else ' '))
      i += n
    }
    while (i < text.length) {
      if (lineComment) { lineComment = text(i) != '\n'; if (lineComment) blank(1) else keep(1) }
      else if (depth > 0) {
        if (at("/*")) { depth += 1; blank(2) }
        else if (at("*/")) { depth -= 1; blank(2) }
        else blank(1)
      } else if (quote != null) {
        if (quote == "\"" && at("\\")) keep(2)
        else if (at(quote)) { keep(quote.length); quote = null }
        else keep(1)
      } else if (at("//")) { lineComment = true; blank(2) }
      else if (at("/*")) { depth = 1; blank(2) }
      else if (at("'\"'")) keep(3)
      else if (at("\"\"\"")) { quote = "\"\"\""; keep(3) }
      else if (at("\"")) { quote = "\""; keep(1) }
      else keep(1)
    }
    out.toString
  }

  /** What a core file at `path` names of the curation surface outside
    * comments; empty for any other file. MLlib's `pipeline` is a
    * lower-case word, not the package. */
  def violations(path: String, text: String): Seq[String] =
    if (!isCore(path)) Nil
    else {
      val names = curationNames.toSeq.sorted.mkString("|")
      val rule = ("""\bgraft\s*\.\s*pipeline\b|(?<![\w.])pipeline\s*\.\s*[A-Z_]|\b(?:""" +
        names + """)\b""").r
      rule.findAllIn(code(text)).toList
    }
}
