package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scans of `src/main`. README's conf-key table is the one list
  * of `spark.graft.*` session keys: every key literal in `src/main` must
  * have a row, and every row must name a key that `src/main` still reads.
  * `GraftSession` is the one session recipe: no other file builds one. */
class ConfKeysSpec extends AnyFunSuite {

  private val Key = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r

  private def sources(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("README's conf-key table lists exactly the spark.graft keys src/main reads") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val literal = ("\"" + Key.regex).r
    val inCode = sources(root).flatMap(p =>
      literal.findAllIn(Files.readString(p)).map(_.drop(1))).toSet
    assert(inCode.nonEmpty, "no spark.graft key literal found under src/main")
    val rows = Files.readAllLines(Paths.get("README.md")).asScala
      .filter(l => l.startsWith("| `spark.graft."))
    val inTable = rows.flatMap(r => Key.findFirstIn(r)).toSet
    assert((inCode -- inTable).isEmpty,
      s"keys read in src/main but missing from README's table: ${inCode -- inTable}")
    assert((inTable -- inCode).isEmpty,
      s"README rows for keys src/main no longer reads: ${inTable -- inCode}")
  }

  test("GraftSession is the only file in src/main that builds a session") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val builders = sources(root)
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString)
    assert(builders == Seq("scala/graft/engine/GraftSession.scala"),
      s"files that build their own session: $builders")
  }
}
