package lifebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result and span files. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)
}
