package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Minimal JSON: string builders for the result line (its keys and
  * units are plain identifiers), Jackson (already on Spark's classpath)
  * for reading manifests.
  */
object Json {
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a JSON number: $x")
    x.toString
  }
  def str(s: String): String = "\"" + s + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def read(p: Path): JsonNode = new ObjectMapper().readTree(Files.readString(p))

  def pairs(n: JsonNode): Seq[(Long, Int)] =
    n.elements().asScala.map(e => (e.get(0).asLong, e.get(1).asInt)).toSeq
}
