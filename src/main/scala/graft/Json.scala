package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the files [[Diag]] and [[Verify]] write, through the Jackson
  * that ships with Spark: every string is escaped by the library, so a
  * quote or control character in a query name, oracle SQL or error
  * message cannot corrupt an artifact.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
