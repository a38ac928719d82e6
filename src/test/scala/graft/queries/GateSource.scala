package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** The source text of one gate's definition, for the specs that pin a
  * gate's implementation by source (its plan truncates behind
  * persist/localCheckpoint). Scoped to the `QueryDef(...)` member that
  * registers the name, so a neighbouring gate in the same family
  * module can neither satisfy a positive check nor trip a negative
  * one. Line comments are dropped: a comment naming an operator is
  * not a call to it.
  */
object GateSource {
  private val dir = Paths.get("src/main/scala/graft/queries")

  def definition(gate: String): String = {
    val files: Seq[Path] = Using.resource(Files.list(dir))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector)
    val hits = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toVector
      lines.indices.filter(i => lines(i).trim == "\"" + gate + "\",")
        .map(i => (f, lines, i))
    }
    require(hits.size == 1, s"$gate: expected one registering QueryDef, found ${hits.size}")
    val (f, lines, nameAt) = hits.head
    val start = (nameAt to 0 by -1).find(i => lines(i).matches("  \\S.*= QueryDef\\(\\s*"))
      .getOrElse(sys.error(s"$gate: no QueryDef member above line ${nameAt + 1} of $f"))
    val end = lines.indexWhere(_.matches("  \\S.*"), start + 1) match {
      case -1 => lines.size
      case i  => i
    }
    lines.slice(start, end).map(_.replaceAll("//.*$", "")).mkString("\n")
  }
}
