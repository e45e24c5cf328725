package graft.perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON rendering for the result and span files, with the Jackson and
  * Scala module jars that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def value(v: Any): String = mapper.writeValueAsString(v)

  /** An object with its keys in the order given. */
  def obj(kv: (String, Any)*): String = value(ListMap(kv: _*))
}
