package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(f: File, value: Any): Unit = {
    f.getParentFile.mkdirs()
    mapper.writeValue(f, value)
  }

  def line(value: Any): String = mapper.writeValueAsString(value)

  def read(f: File): java.util.Map[String, Object] =
    new ObjectMapper().readValue(f, classOf[java.util.Map[String, Object]])

  /** The id list under `key` of a JSON object file. */
  def ids(f: File, key: String): Set[Long] = {
    import scala.jdk.CollectionConverters._
    read(f).get(key).asInstanceOf[java.util.List[Number]].asScala.map(_.longValue).toSet
  }
}
