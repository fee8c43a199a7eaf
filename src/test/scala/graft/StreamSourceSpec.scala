package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guard that every streaming drain opens its source through the one
 * helper, `EventStreams.streamSource`: a new drain that clones the stream
 * session or builds its stream dir by hand could get the files-per-trigger
 * bound or the nanosecond `ts` rebuild wrong. Scans the source text, so it
 * needs no Spark. */
class StreamSourceSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val defName = """\bdef\s+(\w+)""".r

  /** (enclosing def, `file:line`) of every line under src/main/scala that
   * contains `text`, other than the definition of `text` itself. */
  private def sites(text: String): Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices
          .filter(i => lines(i).contains(text) && !lines(i).contains(s"def $text"))
          .map { i =>
            val in = (i to 0 by -1).iterator
              .flatMap(j => defName.findFirstMatchIn(lines(j)).map(_.group(1)))
              .nextOption().getOrElse("")
            (in, s"${root.relativize(f)}:${i + 1}")
          }
      }

  test("streamSession( and streamDirFor( are called only inside streamSource") {
    for (call <- Seq("streamSession(", "streamDirFor(")) {
      val found = sites(call)
      val outside = found.filterNot(_._1 == "streamSource").map(_._2)
      assert(found.nonEmpty && outside.isEmpty,
        s"$call outside streamSource at: ${outside.mkString(", ")}")
    }
  }

  test("the nanosecond ts rebuild is written once") {
    val found = sites("timestamp_micros(ts div 1000)").map(_._2)
    assert(found.size == 1, s"ts rebuilt at ${found.size} sites: ${found.mkString(", ")}")
  }
}
