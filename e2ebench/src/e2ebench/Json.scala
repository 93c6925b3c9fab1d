package e2ebench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  /** Renders Scala maps, sequences and numbers (Spark ships Jackson). */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
