package perfbench

import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through the Jackson that ships with Spark. Objects are ListMaps,
  * so the result line, the context line and the trace file keep their
  * field order. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  type Obj = ListMap[String, Any]
  def obj(fields: (String, Any)*): Obj = ListMap(fields: _*)
  def Obj(fields: Seq[(String, Any)]): Obj = ListMap(fields: _*)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
