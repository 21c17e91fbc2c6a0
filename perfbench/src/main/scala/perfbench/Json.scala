package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

/** JSON through the Jackson mapper Spark already ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Serializes nested Maps, Seqs, Strings, Booleans and numbers on one
    * line; Map keys keep their iteration order.
    */
  def apply(v: Any): String = mapper.writeValueAsString(v)

  /** `{"<sf>": {"<query>": <rows>, ...}, ...}` */
  def readCounts(text: String): Map[String, Map[String, Long]] =
    mapper.readTree(text).fields().asScala.map { e =>
      e.getKey -> e.getValue.fields().asScala.map(q => q.getKey -> q.getValue.asLong()).toMap
    }.toMap
}
