package graft.bench

import scala.jdk.CollectionConverters._

/** Committed correctness pins (`perfbench/pins.json`).
  *
  *  - `collector_queries`: the entries the workload runs, with their
  *    registry family and `{rows, hash}` (`hash` is
  *    `sum(xxhash64(struct(*)))` as a decimal string).
  *  - `daemon_soak`: the tick-row hash at `pin_seed` and `horizon`, and the
  *    full tick's statement and relation counts (the same on every seed:
  *    the seed moves only event time).
  */
final case class PinnedEntry(name: String, family: String, rows: Long,
    hash: String)

final class Pins(root: com.fasterxml.jackson.databind.JsonNode) {
  def entries(workload: String): Seq[PinnedEntry] =
    root.path(workload).path("entries").fields().asScala.map { e =>
      val v = e.getValue
      PinnedEntry(e.getKey, v.path("family").asText(""), v.path("rows").asLong(-1L),
        v.path("hash").asText(""))
    }.toSeq

  def pinSeed(workload: String): Option[Long] =
    Option(root.path(workload).get("pin_seed")).map(_.asLong)

  def field(workload: String, key: String): Option[String] =
    Option(root.path(workload).get(key)).filterNot(_.isNull).map(_.asText)
}

object Pins {
  def load(path: String): Pins = new Pins(Json.parse(
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)))
}
