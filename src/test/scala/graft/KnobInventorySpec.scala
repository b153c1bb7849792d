package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the configuration surface: the `"spark.graft.*"` and
  * `"SPARK_GRAFT_*"` string literals in the main sources must be
  * exactly the keys README's "Configuration" section lists, so a knob
  * can neither appear undocumented nor come back after its deletion
  * without a README change under review.
  */
class KnobInventorySpec extends AnyFunSuite {

  private val Key = """(spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]|SPARK_GRAFT_[A-Z0-9_]+)"""

  private def sourceLiterals: Set[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try {
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          ("\"" + Key).r.findAllMatchIn(text).map(_.group(1))
        }.toSet
    } finally files.close()
  }

  private def readmeKeys: Set[String] = {
    val lines = scala.io.Source.fromFile("README.md", "UTF-8").getLines().toSeq
    val section = lines.dropWhile(_ != "## Configuration").drop(1).takeWhile(!_.startsWith("## "))
    assert(section.nonEmpty, "README.md has no '## Configuration' section")
    section.flatMap(l => ("`" + Key + "`").r.findAllMatchIn(l).map(_.group(1))).toSet
  }

  test("every spark.graft.* / SPARK_GRAFT_* literal in src/main is README's Configuration list") {
    val src = sourceLiterals
    val doc = readmeKeys
    assert(src.nonEmpty)
    assert((src -- doc).isEmpty, s"knobs missing from README's Configuration list: ${src -- doc}")
    assert((doc -- src).isEmpty, s"README lists knobs the code no longer reads: ${doc -- src}")
  }
}
