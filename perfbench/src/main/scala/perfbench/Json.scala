package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The run record is written with Jackson's Scala module; `obj` keeps a
  * record member's keys in the order they are given.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def obj(kvs: (String, Any)*): collection.Map[String, Any] =
    collection.mutable.LinkedHashMap(kvs: _*)
}
