package perfbench

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

/** `ResultPins.canonicalHash` of every query_suite key on the [[Tables]]
  * data, recorded once from a known-good commit (`--record-pins`) and
  * checked on every run. A key whose hash moves is a wrong answer. */
object Pins {
  val Path = "perfbench/pins/query_suite.json"

  def load(): Map[String, String] = {
    val p = Paths.get(Path)
    if (!Files.exists(p)) Map.empty
    else "\"([a-z0-9_]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def save(path: String, hashes: collection.Map[String, String]): Unit =
    Files.write(Paths.get(path), hashes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
}
