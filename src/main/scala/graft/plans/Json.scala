package graft.plans

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, StreamWriteFeature}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** The one JSON codec of every emitter (Bench, Verify, Scaling, the
  * Checkpointer ledger), on the jackson-databind Spark ships. Output is
  * strict: a non-finite double is `null`, never a bare `NaN` token. Values:
  * `null`, [[Obj]], any `Iterable` (an array), `String`, `Int`, `Long`,
  * `Double` and `java.math.BigDecimal` ([[fixed]]).
  */
object Json {

  /** An object whose fields render in the given order. */
  final case class Obj(fields: Seq[(String, Any)])

  // one mapper per process: the Checkpointer writes a ledger row per snapshot
  private val mapper = new ObjectMapper(new JsonFactoryBuilder()
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN).build())
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** `v` printed with exactly `digits` decimals (as `%.<digits>f` prints
    * it, so 2.5 at 3 digits renders `2.500`); `null` when non-finite. */
  def fixed(v: Double, digits: Int): Any =
    if (v.isFinite) new java.math.BigDecimal(
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v)))
    else null

  /** One compact JSON object with `fields` in order. */
  def render(fields: (String, Any)*): String = {
    val w = new java.io.StringWriter
    val g = mapper.getFactory.createGenerator(w)
    write(g, Obj(fields))
    g.close()
    w.toString
  }

  private def write(g: JsonGenerator, v: Any): Unit = v match {
    case null => g.writeNull()
    case Obj(fs) =>
      g.writeStartObject()
      fs.foreach { case (k, x) => g.writeFieldName(k); write(g, x) }
      g.writeEndObject()
    case xs: Iterable[_] => g.writeStartArray(); xs.foreach(write(g, _)); g.writeEndArray()
    case s: String => g.writeString(s)
    case i: Int => g.writeNumber(i)
    case l: Long => g.writeNumber(l)
    case d: Double => if (d.isFinite) g.writeNumber(d) else g.writeNull()
    case d: java.math.BigDecimal => g.writeNumber(d)
    case other => throw new IllegalArgumentException(
      s"no JSON form for ${other.getClass.getName}")
  }

  /** Parse one JSON document strictly: `NaN`/`Infinity` tokens and
    * trailing content are errors. */
  def parse(line: String): JsonNode = mapper.readTree(line)
}
