package graft

import java.nio.charset.StandardCharsets

/** Reads the data shipped on the classpath under /graft (language tables,
  * lemma and tagger corpora). A shipped resource that is missing is a
  * packaging fault, so it throws, naming the path, instead of reading as
  * empty and quietly turning a detector off.
  */
object BundledResource {

  def text(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    if (in == null) throw new IllegalStateException(s"missing bundled resource $path")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  def lines(path: String): Iterator[String] = text(path).linesIterator
}
