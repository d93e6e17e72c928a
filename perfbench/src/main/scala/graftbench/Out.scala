package graftbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Appends one JSON object per line to `path`. */
final class Out(path: String) {
  private val w = new java.io.PrintWriter(
    java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path)))
  def emit(kv: (String, Any)*): Unit =
    synchronized { w.println(Out.json(ListMap(kv: _*))); w.flush() }
  def close(): Unit = w.close()
}

object Out {
  /** Spark's Jackson, with the Scala module for maps, sequences and options. */
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)
}
