package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The `graft.*` session confs the engine reads, declared: a new knob (or a
  * removed one) has to change the set below, so it shows up in the diff.
  */
class KnobCensusSuite extends AnyFunSuite {

  private val declared = Set(
    // the minimum input of the eager-aggregation rule
    "graft.eagerAgg.minBytes",
    // the LSH self-join's exchange width
    "graft.lsh.pinnedWidth",
    // the physical layout of registered tables
    "graft.layout.bucketed",
    // Bench's data-scaled shuffle width
    "graft.bench.dataShuffle")

  test("every graft.<x>.<y> conf key read under src/main is declared") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "no sources under src/main")
    val key = """"(graft\.[A-Za-z]+\.[A-Za-z0-9]+)"""".r
    val found = sources.flatMap { p: Path =>
      key.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
    assert(found == declared,
      s"undeclared: ${(found -- declared).mkString(", ")}; " +
        s"declared but never read: ${(declared -- found).mkString(", ")}")
  }
}
