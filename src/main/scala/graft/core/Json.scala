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
}
