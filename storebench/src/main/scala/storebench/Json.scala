package storebench

import scala.collection.immutable.ListMap

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** JSON rendering of the result lines (json4s ships with Spark). Maps keep
  * their order; numbers keep all their digits. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def render(v: AnyRef): String = Serialization.write(v)

  def obj(kv: (String, Any)*): String = render(ListMap(kv: _*))
}
