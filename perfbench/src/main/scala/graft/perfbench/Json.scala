package graft.perfbench

/** JSON for the result and span files, through the Jackson Scala module
  * Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def obj(kvs: Seq[(String, Any)]): String =
    mapper.writeValueAsString(scala.collection.immutable.ListMap(kvs: _*))
}
