package graft

import com.fasterxml.jackson.databind.ObjectMapper


/** The engine's one Jackson mapper: every metadata document, catalog
  * descriptor, Puffin footer and partition key is parsed and written
  * through it. A mapper is thread-safe once built and costs far more to
  * build than a KB-sized parse (the commit path parses one partition key
  * per carried entry), so no site makes its own. Nothing may configure
  * it; a site that wants other output settings derives an immutable
  * writer (`writerWithDefaultPrettyPrinter()`). */
private[graft] object Json {
  val mapper: ObjectMapper = new ObjectMapper()
}
