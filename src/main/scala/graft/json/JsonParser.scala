package graft.json

import com.fasterxml.jackson.core.{JsonFactory, JsonParser => JacksonParser, JsonToken, JsonGenerator}
import java.io.StringWriter

/** Jackson-streaming parse into the graft JSON ADT. Jackson ships with the
  * Spark classpath (/opt/spark/jars); no extra dependency.
  */
object JsonParser {
  private val factory = {
    val f = new JsonFactory()
    f.enable(JacksonParser.Feature.INCLUDE_SOURCE_IN_LOCATION)
    f
  }

  /** Parse via the hand-rolled FastJson scanner (per-span fragments are tiny
    * and Jackson's per-parse setup dominated — see FastJson). Jackson stays
    * below as [[parseJackson]], the cross-check oracle in PropertySpec.
    */
  def parse(s: String): JsonValue = FastJson.parse(s)

  /** Jackson-streaming reference parser (test oracle for FastJson). */
  def parseJackson(s: String): JsonValue = {
    val p = factory.createParser(s)
    try {
      val t = p.nextToken()
      if (t == null) throw new IllegalArgumentException("empty JSON input")
      val v = readValue(p, t)
      if (p.nextToken() != null) throw new IllegalArgumentException("trailing content after JSON value")
      v
    } finally p.close()
  }

  private def readValue(p: JacksonParser, t: JsonToken): JsonValue = t match {
    case JsonToken.START_OBJECT =>
      val o = new JObj()
      var tok = p.nextToken()
      while (tok != JsonToken.END_OBJECT) {
        val name = p.currentName()
        o.put(name, readValue(p, p.nextToken()))
        tok = p.nextToken()
      }
      o
    case JsonToken.START_ARRAY =>
      val a = new JArr()
      var tok = p.nextToken()
      while (tok != JsonToken.END_ARRAY) {
        a.push(readValue(p, tok))
        tok = p.nextToken()
      }
      a
    case JsonToken.VALUE_STRING => JStr(p.getText)
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => JNum(p.getDoubleValue)
    case JsonToken.VALUE_TRUE => JBool.True
    case JsonToken.VALUE_FALSE => JBool.False
    case JsonToken.VALUE_NULL => JNull
    case other => throw new IllegalArgumentException(s"unexpected JSON token $other")
  }
}

object JsonWriter {
  private val factory = new JsonFactory() // JsonFactory is thread-safe; per-call construction was measurable

  /** Serialize. Numbers: integral doubles in long range print without a
    * fraction (matches serde_json round-trip closely enough for fixtures;
    * semantic comparisons go through JsonEq.jsonLdEq, which compares f64).
    */
  def write(v: JsonValue): String = {
    val sw = new StringWriter()
    val g = factory.createGenerator(sw)
    writeValue(g, v)
    g.flush()
    sw.toString
  }

  private def writeValue(g: JsonGenerator, v: JsonValue): Unit = v match {
    case JNull => g.writeNull()
    case JBool(b) => g.writeBoolean(b)
    case JStr(s) => g.writeString(s)
    case JNum(n) =>
      if (n.isWhole && math.abs(n) < 9.007199254740992e15) g.writeNumber(n.toLong)
      else g.writeNumber(n)
    case a: JArr =>
      g.writeStartArray()
      a.foreach(writeValue(g, _))
      g.writeEndArray()
    case o: JObj =>
      g.writeStartObject()
      o.foreachEntry { (k, x) => g.writeFieldName(k); writeValue(g, x) }
      g.writeEndObject()
  }
}
