package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

/** The one JSON writer of the mains' result lines and files. Objects are
  * `ListMap`s, so keys keep the order they are written in; doubles print as
  * `Double.toString`, and strings are escaped (quotes, backslashes, control
  * characters). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  def write(value: Any): String = mapper.writeValueAsString(value)

  /** Prints one object as a single stdout line. */
  def line(fields: (String, Any)*): Unit = println(write(obj(fields: _*)))
}
