package graft.sources.pinot

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter

/** Offset for the Pinot streaming read: the sorted set of segment paths
  * already visible. Appends only ADD immutable segments (the writer's
  * tmp→seg rename is the commit point), and then set difference between
  * two offsets is exactly the new data — replays are exact. Table
  * maintenance (compaction, rollup, upsert compaction) REPLACES segments
  * under new or reused paths, which no path set can follow: a stream
  * whose start offset names a vanished path fails (see
  * [[PinotMicroBatchStream.planInputPartitions]]).
  */
case class PinotStreamOffset(segments: Seq[String]) extends Offset {
  override def json(): String =
    segments.sorted.map(PinotStreamOffset.quote).mkString("[", ",", "]")
}

object PinotStreamOffset {
  private[pinot] def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Minimal parser for the json() format above (a flat string array). */
  def fromJson(json: String): PinotStreamOffset = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < json.length) {
      if (json.charAt(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (json.charAt(i) != '"') {
          if (json.charAt(i) == '\\') {
            json.charAt(i + 1) match {
              case 'u' =>
                sb.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar)
                i += 6
              case c => sb.append(c); i += 2
            }
          } else { sb.append(json.charAt(i)); i += 1 }
        }
        i += 1
        out += sb.result()
      } else i += 1
    }
    PinotStreamOffset(out.result())
  }
}

/** Micro-batch tail over a Pinot table directory: `latestOffset` is the
  * current committed segment list (a metadata-only directory walk);
  * each batch scans only the segments added since the previous offset,
  * through the same vectorized columnar reader as the batch path.
  *
  * Scale note: each new segment becomes one input partition, so the
  * scan work is proportional to new data, but the driver lists the whole
  * table on every trigger and each offset in the log holds every
  * segment's path, both growing with the segment count.
  */
class PinotMicroBatchStream(tableDir: String, columns: Array[String],
    skipFilters: Array[Filter])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def discover(): Seq[String] =
    // IO-routed: a streaming tail over an hdfs://-hosted table works the
    // same as a local one (scheme-less paths hit the identical nio path)
    try PinotSegments.discoverDirs(tableDir,
      graft.pinot.SegmentIO.forPath(tableDir))
    catch { case _: graft.pinot.PinotFormatException => Seq.empty }

  // Trigger.AvailableNow: the run's upper bound is the segment list
  // captured HERE, once, at stream start — later landings wait for the
  // next run, and the run is guaranteed to drain up to the bound even
  // across multiple batches (without this Spark falls back to a
  // single-batch mode that may skip new data after an uncommitted batch)
  @volatile private var availableNowBound: Option[PinotStreamOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(PinotStreamOffset(discover()))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset =
    availableNowBound.getOrElse(PinotStreamOffset(discover()))

  override def reportLatestOffset(): Offset = PinotStreamOffset(discover())

  override def initialOffset(): Offset = PinotStreamOffset(Seq.empty)

  // plain MicroBatchStream path (non-admission-control triggers)
  override def latestOffset(): Offset = PinotStreamOffset(discover())

  override def deserializeOffset(json: String): Offset =
    PinotStreamOffset.fromJson(json)

  /** The segments of `end` not in `start`. Fails when a segment of
    * `start` is gone from `end`: the table was rewritten under the stream
    * (compaction), so the difference would re-read merged rows or skip
    * rows landing under a reused path.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[PinotStreamOffset].segments
    val now = end.asInstanceOf[PinotStreamOffset].segments
    val vanished = seen.filterNot(now.toSet)
    if (vanished.nonEmpty) throw new graft.pinot.PinotFormatException(
      s"pinot stream over $tableDir: segments of the committed offset are " +
        s"gone (table maintenance rewrote the table under the stream): " +
        vanished.sorted.mkString(", "))
    now
      .filterNot(seen.toSet)
      .sorted
      .map(p => PinotSplit.wholeSegments(Seq(p)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PinotReaderFactory(columns, skipFilters)

  override def commit(end: Offset): Unit = () // checkpoint holds the state

  override def stop(): Unit = ()
}
