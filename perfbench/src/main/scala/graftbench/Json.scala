package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** JSON for the harness, through the Jackson and jackson-module-scala
  * that ship with Spark: reads the run plan, writes the records. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt).toSeq

  /** Scala maps, sequences, options and primitives, as one JSON text. */
  def write(v: Any): String = mapper.writeValueAsString(v)
}
