package graft.perfbench

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonSerializer, ObjectMapper, SerializerProvider}
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Renders the raw run record (Scala maps, sequences, options, numbers)
  * with the Jackson in Spark's jars. NaN and infinities, which JSON cannot
  * hold, become null. The benchmark leaves every statistic to the Python
  * side. */
object Json {
  private object FiniteDouble extends JsonSerializer[java.lang.Double] {
    override def serialize(d: java.lang.Double, g: JsonGenerator, p: SerializerProvider): Unit =
      if (d.isNaN || d.isInfinite) g.writeNull() else g.writeNumber(d.doubleValue)
  }

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .registerModule(new SimpleModule().addSerializer(classOf[java.lang.Double], FiniteDouble))

  def render(v: Any): String = mapper.writeValueAsString(v)
}
