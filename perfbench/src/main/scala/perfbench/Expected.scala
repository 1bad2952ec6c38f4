package perfbench

import java.nio.file.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

/** `expected.json`: per query of the pool, the expected row count and
  * fingerprint, where they came from ("duckdb" for queries with an
  * oracle twin, "graft" for the rest, "graft-rows" where the engine's
  * output varies run to run and only its row count is fixed), the
  * oracle's column types (DuckDB logical types by column name; oracle
  * answers only), and the query's warm solo seconds at the commit that
  * recorded it (used only to stratify samples). */
final case class Expected(queries: Map[String, Expected.Entry])

object Expected {
  final case class Entry(rows: Long, hash: Option[String], source: String, soloS: Double,
      types: Map[String, String])

  def load(p: Path): Expected = {
    val j = JsonMethods.parse(Util.readFile(p))
    val qs = (j \ "queries") match {
      case JObject(fields) => fields.map { case (name, v) =>
        def num(k: String): Double = (v \ k) match {
          case JInt(x) => x.toDouble; case JDouble(x) => x; case JLong(x) => x.toDouble
          case _ => 0.0
        }
        val hash = (v \ "hash") match { case JString(h) => Some(h); case _ => None }
        val source = (v \ "source") match { case JString(s) => s; case _ => "graft" }
        val types = (v \ "types") match {
          case JObject(ts) => ts.collect { case (c, JString(t)) => c -> t }.toMap
          case _ => Map.empty[String, String]
        }
        name -> Entry(num("rows").toLong, hash, source, num("solo_s"), types)
      }.toMap
      case _ => Map.empty[String, Entry]
    }
    Expected(qs)
  }
}
