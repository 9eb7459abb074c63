package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** JSON in and out through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, box(v)) }
    m
  }

  def arr(xs: Any*): java.util.List[AnyRef] =
    new java.util.ArrayList[AnyRef](xs.map(box).asJava)

  private def box(v: Any): AnyRef = v match {
    case null => null
    case d: Double if d.isNaN || d.isInfinite => null
    case s: Seq[_] => arr(s: _*)
    case o: Option[_] => o.map(box).orNull
    case x => x.asInstanceOf[AnyRef]
  }

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def write(path: String, v: AnyRef): Unit =
    mapper.writeValue(new java.io.File(path), v)

  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq
}
