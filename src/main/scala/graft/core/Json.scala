package graft.core

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The one JSON mapper for the documents graft assembles by hand. Its
  * quoter escapes quotes, backslashes and every control character, and
  * writes a null string as `null`.
  */
object Json {
  private val mapper = new ObjectMapper()

  def quote(s: String): String = mapper.writeValueAsString(s)

  def tree(text: String): JsonNode = mapper.readTree(text)

  /** One object as Spark's JSON writer renders a row: the keys in the
    * given order, no spaces, a null field left out. Values are strings,
    * longs or booleans, escaped by the same Jackson quoter.
    */
  def obj(fields: Seq[(String, Any)]): String =
    fields.filter(_._2 != null).map { case (k, v) =>
      val value = v match {
        case s: String => quote(s)
        case _: java.lang.Long | _: java.lang.Boolean => v.toString
      }
      s"${quote(k)}:$value"
    }.mkString("{", ",", "}")

  /** JSON Lines as Spark's JSON writer renders rows: one [[obj]] per row,
    * each line ended by `\n`; no rows, no text.
    */
  def lines(rows: Seq[Seq[(String, Any)]]): String = rows.map(obj(_) + "\n").mkString
}
