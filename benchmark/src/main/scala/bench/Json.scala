package bench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the harness's result and span files, through the Jackson
  * Scala module Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  /** Ordered map literal. */
  def obj(kvs: (String, Any)*): collection.Map[String, Any] =
    collection.mutable.LinkedHashMap(kvs: _*)
}
