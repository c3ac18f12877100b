package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The query panel: one `name<TAB>expected rows` line per query; `#`
  * starts a comment line.
  */
object Panel {
  def read(p: Path): Map[String, Long] =
    Files.readAllLines(p).asScala.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        require(f.length == 2, s"bad panel line: $l")
        f(0) -> f(1).toLong
      }
      .toMap
}
