package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source sweep over `src/main/scala`: the shipped classes carry exactly
  * the entry points callers run — `Bench` and `Verify` (the correctness
  * dump and timing line) and `ReplicateCorpus` (the scaled-copy builder
  * the benchmark runs from the compiled classes). Probes, A/B scratch
  * runners and scale gates are manual mains under `src/test`.
  */
class MainEntrySpec extends AnyFunSuite {

  private val Shipped = Set("Bench", "Verify", "ReplicateCorpus")

  private val ObjectDecl = """^\s*(?:private\s+)?object\s+(\w+)""".r.unanchored
  private val MainDef = """^\s*def\s+main\s*\(""".r.unanchored
  private val AppDecl = """^\s*object\s+(\w+)\s+extends\s+App\b""".r.unanchored

  /** Objects in `file` that define `def main` or extend `App`; a main
    * belongs to the nearest object declared above it.
    */
  private def mainObjects(file: Path): Seq[String] = {
    var current: Option[String] = None
    Files.readAllLines(file).asScala.toSeq.flatMap {
      case AppDecl(name) => current = Some(name); Some(name)
      case ObjectDecl(name) => current = Some(name); None
      case MainDef() => Some(current.getOrElse(s"<no object in $file>"))
      case _ => None
    }
  }

  test("src/main defines def main only in Bench, Verify and ReplicateCorpus") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"run from the repo root: ${root.toAbsolutePath} is not a directory")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.flatMap(mainObjects).toSet
    assert(mains === Shipped,
      s"unexpected entry points ${(mains -- Shipped).mkString(", ")}; " +
        "manual mains belong under src/test")
  }
}
