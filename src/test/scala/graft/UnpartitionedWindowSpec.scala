package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guard on windows without `partitionBy`: Spark moves such a window's
 * whole input into one task, so one is allowed only over an input that is
 * bounded whatever the corpus size. The allowed sites, by file and count:
 *  - a rank over a post-`limit` frame: er/Progressive.scala (2),
 *    similarity/KMeans.scala (1) and text/Curation.scala (4);
 *  - er/BlockCleaning.scala (1), over the distinct comparison levels;
 *  - util/Prefix.scala (1), over one row per partition;
 *  - er/AttributeClustering.scala (1), over the distinct component labels.
 * Scans the source text with comment lines dropped, so it needs no Spark. */
class UnpartitionedWindowSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")

  private val allowed = Map(
    "er/Progressive.scala" -> 2, "similarity/KMeans.scala" -> 1,
    "text/Curation.scala" -> 4, "er/BlockCleaning.scala" -> 1,
    "util/Prefix.scala" -> 1, "er/AttributeClustering.scala" -> 1)

  /** A window spec that starts with anything but `partitionBy`, across
   * line breaks too. */
  private val unpartitioned = """\bWindow\s*\.\s*(orderBy|rowsBetween|rangeBetween)\b""".r

  /** `file:line` of every unpartitioned window under src/main/scala/graft, by
   * file relative to it. */
  private def sites: Map[String, Seq[String]] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .flatMap { f =>
        val file = root.relativize(f).toString
        // comment lines become empty, so offsets still map to line numbers
        val code = Files.readAllLines(f).asScala.map { l =>
          val t = l.trim
          if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) "" else l
        }.mkString("\n")
        unpartitioned.findAllMatchIn(code)
          .map(m => file -> s"$file:${code.substring(0, m.start).count(_ == '\n') + 1}")
      }
      .groupMap(_._1)(_._2)

  test("every Window without partitionBy is one of the allowed bounded sites") {
    val found = sites
    val wrong = (found.keySet ++ allowed.keySet).toSeq.sorted.collect {
      case f if found.getOrElse(f, Nil).size != allowed.getOrElse(f, 0) =>
        s"$f: ${allowed.getOrElse(f, 0)} allowed, found at " +
          found.getOrElse(f, Nil).mkString(", ")
    }
    if (wrong.nonEmpty) fail(wrong.mkString("; "))
  }
}
