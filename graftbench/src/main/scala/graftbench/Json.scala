package graftbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result line and the artifact, through the Jackson that
  * Spark ships. Objects are ListMaps so keys keep insertion order;
  * doubles print with every digit. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
