package perfbench

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result and span files, written by the Jackson on the
  * Spark classpath; objects are insertion-ordered maps. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(fields: (String, Any)*): Map[String, Any] = ListMap(fields: _*)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
