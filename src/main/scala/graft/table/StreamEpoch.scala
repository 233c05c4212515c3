package graft.table

/** One streaming-sink epoch commit and its exactly-once anchors, the
  * same for both table formats. Two anchors commit atomically with the
  * epoch: the per-snapshot (query-id, epoch-id) summary stamp, and a
  * high-water table property `graft.streaming.epoch.<query-id>`. The
  * property survives expire dropping the stamped snapshots, so a
  * delayed recovery replay after an expire still commits nothing (the
  * reason Iceberg's own streaming writer keeps its watermark in table
  * properties). */
final case class StreamEpoch(queryId: String, epochId: Long) {
  def summary: Map[String, String] = Map(
    "streaming-query-id" -> queryId,
    "streaming-epoch-id" -> epochId.toString)

  def highWater: (String, String) =
    s"graft.streaming.epoch.$queryId" -> epochId.toString

  /** Did this epoch, or a later one of the same query, already commit?
    * Unparseable stamps (a hand-edited or corrupted property) read as
    * ABSENT — the other anchor still dedups — rather than failing every
    * commit of the query with an NFE. */
  def replayedIn(properties: Map[String, String],
      summaries: Iterator[Map[String, String]]): Boolean = {
    def atLeast(v: String): Boolean = v.toLongOption.exists(_ >= epochId)
    properties.get(highWater._1).exists(atLeast) ||
      summaries.exists(s => s.get("streaming-query-id").contains(queryId) &&
        s.get("streaming-epoch-id").exists(atLeast))
  }
}
