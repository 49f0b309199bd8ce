package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the extension surface in one place: one session factory, one
  * function/strategy table, one probe tool. Scans the main sources. */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  private def filesWith(text: String): Seq[String] =
    sources.collect { case (p, src) if src.contains(text) => p.getFileName.toString }

  private def count(text: String): Int =
    sources.map { case (_, src) => src.sliding(text.length).count(_ == text) }.sum

  test("one SparkSession.builder, in Sessions.scala") {
    assert(Files.isDirectory(root))
    assert(count("SparkSession.builder") === 1)
    assert(filesWith("SparkSession.builder") === Seq("Sessions.scala"))
  }

  test("functions and strategies are registered only by GraftExtensions") {
    assert(filesWith("createOrReplaceTempFunction") === Seq("GraftExtensions.scala"))
    assert(filesWith("extraStrategies =") === Seq("GraftExtensions.scala"))
    assert(filesWith("def register(").isEmpty)
  }

  test("graft/tools holds only Probe") {
    val tools = root.resolve("graft/tools")
    val ls = Files.list(tools)
    try assert(ls.iterator.asScala.map(_.getFileName.toString).toList === List("Probe.scala"))
    finally ls.close()
  }
}
