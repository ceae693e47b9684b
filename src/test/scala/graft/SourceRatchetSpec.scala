package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Ratchets over the library sources (`src/main/scala`, the `graft/dev`
  * probes excluded): a change that writes another hand copy of the
  * driver-or-distributed decision, or another ad-hoc knob read, fails
  * here instead of drifting in unnoticed. */
class SourceRatchetSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    val dev = root.resolve("graft/dev")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(dev))
      .map(p => p -> Files.readString(p)).toList
    finally walk.close()
  }

  private def filesMatching(re: Regex): Seq[String] =
    sources.collect { case (p, s) if re.findFirstIn(s).isDefined => p.getFileName.toString }

  test("only Regime reads the Catalyst estimate or tests for a LocalRelation") {
    assert(sources.size > 50)
    assert(filesMatching("""optimizedPlan\s*\.\s*stats""".r) == Seq("Regime.scala"))
    assert(filesMatching(
      """isInstanceOf\[[\w.]*LocalRelation\]|case\s+\w+\s*:\s*[\w.]*LocalRelation\b""".r) ==
      Seq("Regime.scala"))
  }

  test("only Regime reads the optimized plan or folds a plan onto its LocalRelation") {
    // Shim's result relation overrides optimizedPlan: the one other mention
    assert(filesMatching("""\.\s*optimizedPlan\b""".r) == Seq("Regime.scala"))
    assert(filesMatching("""\boptimizedPlan\b""".r).toSet == Set("Regime.scala", "Shim.scala"))
    assert(filesMatching(
      """ConvertToLocalRelation\s*\.|InterpretedMutableProjection|Predicate\s*\.\s*create""".r) ==
      Seq("Regime.scala"))
  }

  /** lowered whenever a change turns knobs into constants */
  private val knobReadCeiling = 24

  test("ad-hoc knob reads stay at or under the ceiling") {
    val reads = sources.map { case (_, s) =>
      """sys\.props|sys\.env|System\.getProperty|System\.getenv""".r.findAllIn(s).size
    }.sum
    assert(reads <= knobReadCeiling,
      s"$reads sys.props/sys.env/System.getProperty/System.getenv reads (ceiling $knobReadCeiling)")
  }

  /** lowered whenever a change deletes a main */
  private val devMainCeiling = 11

  test("graft/dev holds at most the surviving dev mains") {
    val list = Files.list(Paths.get("src/main/scala/graft/dev"))
    val mains =
      try list.iterator.asScala.count(_.toString.endsWith(".scala"))
      finally list.close()
    assert(mains <= devMainCeiling,
      s"$mains .scala files under graft/dev (ceiling $devMainCeiling)")
  }
}
