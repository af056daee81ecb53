package graft.sources

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Request-body size of a REST upsert, encoded with the client's own
  * codec (the HTTP server counts response bytes only, so the benchmark
  * sizes the request side itself).
  */
object WireBytes {
  def upsertBody(pts: Seq[Point]): Long =
    JsonMethods.compact(JObject("points" ->
      JArray(pts.toList.map(p => CollectionWire.pointJson(p)))))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
}
