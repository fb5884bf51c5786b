package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every session in graft starts from [[GraftSession]]: no other source
  * file builds its own SparkSession or reads the core-count variable. */
class SessionRecipeSpec extends AnyFunSuite {

  private val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
  private val recipe = "GraftSession.scala"

  /** `file:line: code` for every non-comment line matching `p` outside
    * the recipe file. */
  private def codeLines(p: String => Boolean): Seq[String] = {
    val files = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.getFileName.toString == recipe), s"no $recipe under $roots")
    for {
      f <- files if f.getFileName.toString != recipe
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if p(code)
    } yield s"$f:${i + 1}: $code"
  }

  // split so this file's own source does not match
  private val builderCall = "SparkSession" + ".builder("
  private val coresVar = "SPARK_GRAFT" + "_CPUS"

  test("only GraftSession builds a SparkSession") {
    val hits = codeLines(_.contains(builderCall))
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }

  test("only GraftSession reads the core-count variable") {
    val hits = codeLines(_.contains(coresVar))
    if (hits.nonEmpty) fail(hits.mkString("\n"))
  }
}
