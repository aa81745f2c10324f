package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** JSON in and out with the Jackson that ships with Spark: plans are
  * read as trees; results are written from plain Scala maps and
  * sequences through its Scala module.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] =
    if (n == null || n.isNull) Seq.empty else n.elements().asScala.map(_.asText).toSeq

  def longs(n: JsonNode): Seq[Long] =
    if (n == null || n.isNull) Seq.empty else n.elements().asScala.map(_.asLong).toSeq

  def write(v: Any): String = mapper.writeValueAsString(v)
}
