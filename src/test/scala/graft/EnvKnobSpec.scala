package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` environment variable the program reads is
  * documented: the set named in `src/main` equals the README's
  * "Environment" table, so a new knob is added there on purpose. */
class EnvKnobSpec extends AnyFunSuite {

  private val Knob = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("the SPARK_GRAFT_* variables in src/main are the README's " +
      "Environment table") {
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    val inCode: Map[String, Seq[Path]] = sources
      .flatMap(p => Knob.findAllIn(Files.readString(p)).map(_ -> p))
      .groupMap(_._1)(_._2)
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val table = readme.dropWhile(_ != "## Environment").drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `SPARK_GRAFT_"))
    val documented = table.flatMap(Knob.findFirstIn)
    assert(documented.nonEmpty, "README has no Environment table")
    assert(documented.distinct == documented,
      s"knobs listed twice: ${documented.diff(documented.distinct)}")
    val undocumented = inCode.keySet -- documented
    assert(undocumented.isEmpty, "read in src/main but missing from the " +
      "README Environment table: " + undocumented.toSeq.sorted
        .map(k => s"$k (${inCode(k).distinct.mkString(", ")})").mkString("; "))
    val stale = documented.toSet -- inCode.keySet
    assert(stale.isEmpty,
      s"in the README Environment table but read nowhere: ${stale.toSeq.sorted}")
  }
}
