package graft.sources.pinot

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import graft.pinot.{PinotCompact, PinotFormatException, SegmentWriter, StarTree,
  VarByteChunkV4}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** Write path — an EXTENSION beyond the read-only reference (its roadmap
  * item "write support", README.md:416): `df.write.format("pinot")
  * .mode("append").save(tableDir)` emits one Pinot v3 segment per input
  * partition (the segment is the unit of parallelism on read, so write
  * parallelism becomes read parallelism).
  *
  * Encodings chosen per column: numerics dictionary-encode (matching the
  * reference's readable surface); strings dictionary-encode, switching to
  * RAW VarByteChunkV4+LZ4 for high-cardinality columns (> 50% distinct)
  * where a dictionary would bloat the segment.
  *
  * Commit protocol: tasks write to `tmp_<uuid>` dirs (the discovery walk
  * ignores `tmp*`, ≙ metadata_provider.rs:183); the driver-side commit
  * renames them to visible `seg_...` dirs, so failed/speculative task
  * output is never read and abort simply deletes.
  */
class PinotWriteBuilder(path: String, tableName: String, schema: StructType,
    queryId: String, partitionCols: Seq[String] = Seq.empty,
    jsonCols: Set[String] = Set.empty,
    invCols: Set[String] = Set.empty,
    nullableCols: Set[String] = Set.empty,
    timeCol: Option[String] = None,
    starTreeSpec: Option[StarTree.Spec] = None,
    bloomCols: Set[String] = Set.empty,
    rangeCols: Set[String] = Set.empty,
    textCols: Set[String] = Set.empty,
    sortedCol: Option[String] = None,
    textAnalyzer: Int = graft.pinot.TextIndexSection.AnalyzerStandard,
    jsonIdxCols: Set[String] = Set.empty,
    sketchCols: Map[String, String] = Map.empty) extends WriteBuilder {

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new PinotBatchWrite(path, tableName,
      schema, queryId, partitionCols, jsonCols, invCols, nullableCols,
      timeCol, starTreeSpec, bloomCols, rangeCols, textCols, sortedCol,
      textAnalyzer, jsonIdxCols, sketchCols)
    // streaming sink: each micro-batch epoch commits its own segments
    // (how a _REALTIME table fills up, which the discovery walk and the
    // catalog then serve with the same batch read path); carries the same
    // encoding options (json/inverted/nullable) as the batch path
    override def toStreaming: streaming.StreamingWrite =
      new PinotStreamingWrite(path, tableName, schema, queryId,
        jsonCols, invCols, nullableCols, starTreeSpec, bloomCols, rangeCols,
        textCols, sortedCol, textAnalyzer, jsonIdxCols, sketchCols)
  }
}

class PinotStreamingWrite(path: String, tableName: String,
    schema: StructType, queryId: String,
    jsonCols: Set[String] = Set.empty,
    invCols: Set[String] = Set.empty,
    nullableCols: Set[String] = Set.empty,
    starTreeSpec: Option[StarTree.Spec] = None,
    bloomCols: Set[String] = Set.empty,
    rangeCols: Set[String] = Set.empty,
    textCols: Set[String] = Set.empty,
    sortedCol: Option[String] = None,
    textAnalyzer: Int = graft.pinot.TextIndexSection.AnalyzerStandard,
    jsonIdxCols: Set[String] = Set.empty,
    sketchCols: Map[String, String] = Map.empty)
    extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    PinotStreamingWriterFactory(path, tableName, schema, queryId,
      jsonCols, invCols, nullableCols, starTreeSpec, bloomCols, rangeCols,
      textCols, sortedCol, textAnalyzer, jsonIdxCols, sketchCols)

  private def delegate = new PinotBatchWrite(path, tableName, schema, queryId)

  // No manifest rebuild per epoch: it walks the whole table (O(segments)
  // I/O per microbatch, quadratic over a stream's life) for an artifact
  // the very next epoch invalidates. A hot streaming table's cold-open
  // optimization is pointless mid-stream; batch commits and compaction
  // rebuild it, so the table gets its manifest when it quiesces through
  // either path.
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    delegate.commitSegments(messages)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    delegate.abort(messages)
}

/** (tmpDir, visibleSegName) pairs: the tmp dir is ATTEMPT-unique (carries
  * the task id) so speculative/zombie attempts never touch each other's
  * in-progress output, while the visible name stays deterministic per
  * (queryId, epoch, partition, segSeq) so replayed commits deduplicate.
  */
case class PinotCommitMessage(segs: Seq[(String, String)], rows: Long)
    extends WriterCommitMessage

class PinotBatchWrite(path: String, tableName: String, schema: StructType,
    queryId: String, partitionCols: Seq[String] = Seq.empty,
    jsonCols: Set[String] = Set.empty,
    invCols: Set[String] = Set.empty,
    nullableCols: Set[String] = Set.empty,
    timeCol: Option[String] = None,
    starTreeSpec: Option[StarTree.Spec] = None,
    bloomCols: Set[String] = Set.empty,
    rangeCols: Set[String] = Set.empty,
    textCols: Set[String] = Set.empty,
    sortedCol: Option[String] = None,
    textAnalyzer: Int = graft.pinot.TextIndexSection.AnalyzerStandard,
    jsonIdxCols: Set[String] = Set.empty,
    sketchCols: Map[String, String] = Map.empty) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new PinotWriterFactory(path, tableName, schema, queryId, partitionCols,
      jsonCols, invCols, nullableCols, timeCol, starTreeSpec, bloomCols,
      rangeCols, textCols, sortedCol, textAnalyzer, jsonIdxCols, sketchCols)

  /** Idempotent per segment: a replayed commit (streaming epoch retry —
    * Spark's StreamingWrite contract requires `commit(epochId)` to be
    * replay-safe) finds the visible `seg_` dir already present and simply
    * discards its tmp dir instead of failing or double-committing.
    * Segment names are deterministic per (queryId, epochId, partitionId,
    * segSeq) — the streaming queryId is the query's stable checkpoint id,
    * so a post-restart replay regenerates the same names.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    commitSegments(messages)
    graft.pinot.TableManifest.refresh(Paths.get(path))
  }

  /** The segment-visibility half of commit, shared with the streaming
    * epoch path (which skips the per-epoch manifest rebuild).
    */
  private[pinot] def commitSegments(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case PinotCommitMessage(segs, _) =>
        segs.foreach { case (tmp, segName) =>
          val src = Paths.get(tmp)
          val visible = src.resolveSibling(segName)
          if (Files.exists(visible)) PinotCompact.deleteRecursively(src)
          else if (Files.exists(src)) Files.move(src, visible)
          else throw new PinotFormatException(
            s"commit: neither $src nor $visible exists")
        }
      case other =>
        throw new PinotFormatException(s"Unexpected commit message: $other")
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case PinotCommitMessage(segs, _) =>
        segs.foreach { case (t, _) =>
          PinotCompact.deleteRecursively(Paths.get(t)) }
      case _ => ()
    }
}

case class PinotStreamingWriterFactory(path: String, tableName: String,
    schema: StructType, queryId: String,
    jsonCols: Set[String] = Set.empty,
    invCols: Set[String] = Set.empty,
    nullableCols: Set[String] = Set.empty,
    starTreeSpec: Option[StarTree.Spec] = None,
    bloomCols: Set[String] = Set.empty,
    rangeCols: Set[String] = Set.empty,
    textCols: Set[String] = Set.empty,
    sortedCol: Option[String] = None,
    textAnalyzer: Int = graft.pinot.TextIndexSection.AnalyzerStandard,
    jsonIdxCols: Set[String] = Set.empty,
    sketchCols: Map[String, String] = Map.empty)
    extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new PinotDataWriter(path, tableName, schema,
      s"${queryId}_e$epochId", partitionId, taskId,
      Seq.empty, jsonCols, invCols, nullableCols, None, starTreeSpec,
      bloomCols, rangeCols, textCols, sortedCol, textAnalyzer, jsonIdxCols, sketchCols)
}

class PinotWriterFactory(path: String, tableName: String, schema: StructType,
    queryId: String, partitionCols: Seq[String] = Seq.empty,
    jsonCols: Set[String] = Set.empty,
    invCols: Set[String] = Set.empty,
    nullableCols: Set[String] = Set.empty,
    timeCol: Option[String] = None,
    starTreeSpec: Option[StarTree.Spec] = None,
    bloomCols: Set[String] = Set.empty,
    rangeCols: Set[String] = Set.empty,
    textCols: Set[String] = Set.empty,
    sortedCol: Option[String] = None,
    textAnalyzer: Int = graft.pinot.TextIndexSection.AnalyzerStandard,
    jsonIdxCols: Set[String] = Set.empty,
    sketchCols: Map[String, String] = Map.empty)
    extends DataWriterFactory {

  // validate up front so the failure is a clean analysis-time error
  schema.fields.foreach { f =>
    f.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType |
           BooleanType | TimestampType | BinaryType => ()
      // BIG_DECIMAL extension: read side surfaces DecimalType(38, 18),
      // so stored scales must fit in 18 for the widening to stay exact
      case d: DecimalType if d.precision <= 38 && d.scale >= 0 && d.scale <= 18 => ()
      // multi-value (array) columns — extension; reference non-goal.
      // containsNull=true is accepted (Spark over-infers it); actual null
      // ELEMENTS are rejected per row at write time.
      case ArrayType(IntegerType | LongType | DoubleType | StringType, _) => ()
      case other => throw new PinotFormatException(
        s"pinot write does not support column ${f.name}: ${other.simpleString}")
    }
  }
  // inverted indexes require a dictionary (as in Pinot) — these types
  // always have a dict-capable encoding; the writer forces dict for them
  invCols.foreach { ic =>
    val ok = schema.fieldNames.contains(ic) && (schema(ic).dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType |
           BooleanType | TimestampType => true
      case ArrayType(IntegerType | LongType | DoubleType | StringType, _) => true
      case _ => false
    })
    if (!ok) throw new PinotFormatException(
      s"invertedIndexColumns entry $ic must be an existing dictionary-" +
        "encodable column (numeric, string, boolean, timestamp, or array)")
  }
  timeCol.foreach { tc =>
    val ok = schema.fieldNames.contains(tc) && (schema(tc).dataType match {
      case IntegerType | LongType | TimestampType => true
      case _ => false
    })
    if (!ok) throw new PinotFormatException(
      s"timeColumn $tc must be an existing INT/LONG/TIMESTAMP column")
    if (nullableCols(tc)) throw new PinotFormatException(
      s"timeColumn $tc cannot be nullable")
  }
  // nullable columns (null-value vector extension): scalar SV types only
  nullableCols.foreach { nc =>
    val ok = schema.fieldNames.contains(nc) && (schema(nc).dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType |
           BooleanType | TimestampType => true
      case _ => false
    })
    if (!ok) throw new PinotFormatException(
      s"nullableColumns entry $nc must be an existing scalar column " +
        "(numeric, string, boolean, or timestamp)")
  }
  nullableCols.intersect(partitionCols.toSet).foreach { nc =>
    throw new PinotFormatException(
      s"partitionBy column $nc cannot be nullable")
  }
  jsonCols.foreach { jc =>
    if (!schema.fieldNames.contains(jc) ||
        schema(jc).dataType != StringType)
      throw new PinotFormatException(
        s"jsonColumns entry $jc must be an existing STRING column")
  }
  // bloom filters: any single-value scalar column (works for RAW columns
  // too — that is where equality pruning has no dictionary to ask)
  bloomCols.foreach { bc =>
    val ok = schema.fieldNames.contains(bc) && (schema(bc).dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType |
           BooleanType | TimestampType => true
      case _ => false
    })
    if (!ok) throw new PinotFormatException(
      s"bloomFilterColumns entry $bc must be an existing scalar column " +
        "(numeric, string, boolean, or timestamp)")
  }
  // range indexes: single-value numeric (incl. timestamp) columns only
  rangeCols.foreach { rc =>
    val ok = schema.fieldNames.contains(rc) && (schema(rc).dataType match {
      case IntegerType | LongType | FloatType | DoubleType |
           TimestampType => true
      case _ => false
    })
    if (!ok) throw new PinotFormatException(
      s"rangeIndexColumns entry $rc must be an existing numeric or " +
        "timestamp column")
  }
  // text indexes: single-value STRING columns only
  textCols.foreach { tc =>
    val ok = schema.fieldNames.contains(tc) &&
      schema(tc).dataType == StringType
    if (!ok) throw new PinotFormatException(
      s"textIndexColumns entry $tc must be an existing STRING column")
  }
  // json indexes: single-value STRING (usually also in jsonColumns)
  jsonIdxCols.foreach { jc =>
    val ok = schema.fieldNames.contains(jc) &&
      schema(jc).dataType == StringType
    if (!ok) throw new PinotFormatException(
      s"jsonIndexColumns entry $jc must be an existing STRING column")
  }
  // stored sketches: the spec string must parse (kmv<k> / kll<k> /
  // hll<p> / bitmap / freq<c>) and the kind must take the column's type
  // (Sketch.accepts, the type rule of the writer's value rule)
  sketchCols.foreach { case (sc, spec) =>
    val parsed = graft.pinot.SketchSection.parseSpec(spec)
    val ok = schema.fieldNames.contains(sc) &&
      graft.functions.Sketch.accepts(parsed, schema(sc).dataType)
    if (!ok) throw new PinotFormatException(
      s"sketchColumns entry $sc ($spec) must be an existing column whose " +
        s"type the sketch takes: ${graft.functions.Sketch.TypeRule}")
  }
  // sorted column (Pinot's sortedColumn table config): rows are SORTED
  // by it at write time, so every segment records isSorted=true and the
  // scan's sorted sub-segment ranging applies by construction
  sortedCol.foreach { sc =>
    val ok = schema.fieldNames.contains(sc) && (schema(sc).dataType match {
      case IntegerType | LongType | FloatType | DoubleType | StringType |
           TimestampType => true
      case _ => false
    })
    if (!ok) throw new PinotFormatException(
      s"sortedColumn $sc must be an existing scalar column")
    if (nullableCols(sc)) throw new PinotFormatException(
      s"sortedColumn $sc cannot be nullable")
  }
  // star-tree: dims must be dict-encodable scalars, metrics numeric;
  // neither may be nullable (same constraints as Pinot's star-tree)
  starTreeSpec.foreach { st =>
    st.dims.foreach { d =>
      val ok = schema.fieldNames.contains(d) && (schema(d).dataType match {
        case IntegerType | LongType | StringType | BooleanType |
             TimestampType => true
        case _ => false
      })
      if (!ok) throw new PinotFormatException(
        s"starTree dimension $d must be an existing " +
          "INT/LONG/STRING/BOOLEAN/TIMESTAMP column")
      if (nullableCols(d)) throw new PinotFormatException(
        s"starTree dimension $d cannot be nullable")
    }
    st.metrics.filter(_.column.nonEmpty).foreach { m =>
      val ok = schema.fieldNames.contains(m.column) &&
        (schema(m.column).dataType match {
          case IntegerType | LongType | FloatType | DoubleType => true
          case _ => false
        })
      if (!ok) throw new PinotFormatException(
        s"starTree metric ${m.key} must aggregate an existing numeric column")
      if (nullableCols(m.column)) throw new PinotFormatException(
        s"starTree metric column ${m.column} cannot be nullable")
    }
  }
  // partition keys become segment-grouping strings — binary/array values
  // have no canonical text form, so reject them up front rather than
  // silently degenerating to one segment per row
  partitionCols.foreach { pc =>
    schema(pc).dataType match {
      case BinaryType | _: ArrayType => throw new PinotFormatException(
        s"partitionBy column $pc: binary/array partition keys are not supported")
      case _ => ()
    }
  }

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PinotDataWriter(path, tableName, schema, queryId, partitionId, taskId,
      partitionCols, jsonCols, invCols, nullableCols, timeCol, starTreeSpec,
      bloomCols, rangeCols, textCols, sortedCol, textAnalyzer, jsonIdxCols, sketchCols)
}

class PinotDataWriter(path: String, tableName: String, schema: StructType,
    queryId: String, partitionId: Int, taskId: Long,
    partitionCols: Seq[String] = Seq.empty, jsonCols: Set[String] = Set.empty,
    invCols: Set[String] = Set.empty,
    nullableCols: Set[String] = Set.empty,
    timeCol: Option[String] = None,
    starTreeSpec: Option[StarTree.Spec] = None,
    bloomCols: Set[String] = Set.empty,
    rangeCols: Set[String] = Set.empty,
    textCols: Set[String] = Set.empty,
    sortedCol: Option[String] = None,
    textAnalyzer: Int = graft.pinot.TextIndexSection.AnalyzerStandard,
    jsonIdxCols: Set[String] = Set.empty,
    sketchCols: Map[String, String] = Map.empty)
    extends DataWriter[InternalRow] {

  // star-tree dims must stay dictionary-encoded (records address dict
  // ids), so the high-cardinality RAW heuristic skips them
  private val starDims: Set[String] =
    starTreeSpec.map(_.dims.toSet).getOrElse(Set.empty)

  /** Segment roll threshold: bounds writer memory on arbitrarily large
    * input partitions (≙ Pinot's own many-small-segments model; the
    * reference targets "segments < 1GB").
    */
  private val MaxRowsPerSegment = 1 << 20

  private val buffers: Array[ArrayBuffer[Any]] =
    schema.fields.map(_ => ArrayBuffer.empty[Any])
  // buffer indices (within the current flush window) whose value is NULL,
  // per nullable column — becomes the segment's null-value vector
  private val nullBits: Array[scala.collection.mutable.BitSet] =
    schema.fields.map(_ => scala.collection.mutable.BitSet.empty)
  private val flushed = ArrayBuffer.empty[(String, String)]
  private var segSeq = 0
  private var totalRows = 0L

  /** Stored default for a NULL row (Pinot's defaultNullValue model: the
    * forward index keeps a default, the null vector marks the doc).
    */
  private def nullDefault(dt: org.apache.spark.sql.types.DataType): Any =
    dt match {
      case IntegerType => 0
      case LongType | TimestampType => 0L
      case FloatType => 0f
      case DoubleType => 0d
      case StringType => ""
      case BooleanType => false
      case other => throw new PinotFormatException(s"no null default for $other")
    }

  override def write(row: InternalRow): Unit = {
    var i = 0
    while (i < schema.fields.length) {
      if (row.isNullAt(i)) {
        val f = schema.fields(i)
        if (!nullableCols(f.name))
          throw new PinotFormatException(
            s"pinot columns are non-nullable; null in ${f.name} " +
              "(list it in .option(\"nullableColumns\", ...) to allow)")
        nullBits(i) += buffers(i).length
        buffers(i) += nullDefault(f.dataType)
        i += 1
      } else {
      buffers(i) += (schema.fields(i).dataType match {
        case IntegerType => row.getInt(i)
        case LongType => row.getLong(i)
        case FloatType => row.getFloat(i)
        case DoubleType => row.getDouble(i)
        case StringType => row.getUTF8String(i).toString
        case BooleanType => row.getBoolean(i)
        // Catalyst timestamps are epoch MICROS; Pinot stores millis —
        // sub-millisecond precision truncates (documented storage grain)
        case TimestampType => Math.floorDiv(row.getLong(i), 1000L)
        case dt: DecimalType =>
          row.getDecimal(i, dt.precision, dt.scale).toJavaBigDecimal
        case BinaryType => row.getBinary(i).clone()
        case ArrayType(et, _) =>
          val a = row.getArray(i)
          var j = 0
          while (j < a.numElements()) {
            if (a.isNullAt(j)) throw new PinotFormatException(
              s"pinot MV values are non-nullable; null element in ${schema.fields(i).name}")
            j += 1
          }
          et match {
            case IntegerType => a.toIntArray()
            case LongType => a.toLongArray()
            case DoubleType => a.toDoubleArray()
            case StringType =>
              Array.tabulate(a.numElements())(k => a.getUTF8String(k).toString)
            case other => throw new PinotFormatException(s"unsupported array<$other>")
          }
        case other => throw new PinotFormatException(s"unsupported $other")
      })
      i += 1
      }
    }
    totalRows += 1
    if (buffers.head.length >= MaxRowsPerSegment) flush()
  }

  private def flush(): Unit = {
    val n = buffers.headOption.map(_.length).getOrElse(0)
    if (n == 0) return
    if (partitionCols.isEmpty) writeSegment(0 until n)
    else {
      // partitionBy: one segment per key value in this flush window — the
      // segment's min==max metadata then drives storage-partitioned joins
      // on the read side (callers co-locate keys with df.repartition(key))
      val keyIdx = partitionCols.map(schema.fieldIndex)
      // length-prefixed text encoding: unambiguous for any scalar key
      // (no separator byte can collide with value content)
      def key(r: Int): String = keyIdx.map { ci =>
        val s = String.valueOf(buffers(ci)(r))
        s"${s.length}:$s"
      }.mkString(";")
      (0 until n).groupBy(key)
        .toSeq.sortBy(_._1)
        .foreach { case (_, rows) => writeSegment(rows) }
    }
    buffers.foreach(_.clear())
    nullBits.foreach(_.clear())
  }

  private def writeSegment(rowsIn: Seq[Int]): Unit = {
    // sortedColumn: physically order the segment by the declared column
    // (Pinot sorts offline segments the same way) — the scan's
    // binary-searched sorted ranging then applies to EVERY segment
    val rows: Seq[Int] = sortedCol match {
      case None => rowsIn
      case Some(sc) =>
        val i = schema.fieldIndex(sc)
        schema.fields(i).dataType match {
          case IntegerType => rowsIn.sortBy(r => buffers(i)(r).asInstanceOf[Int])
          case LongType | TimestampType =>
            rowsIn.sortBy(r => buffers(i)(r).asInstanceOf[Long])
          case FloatType => rowsIn.sortBy(r =>
            buffers(i)(r).asInstanceOf[Float])(Ordering.Float.TotalOrdering)
          case DoubleType => rowsIn.sortBy(r =>
            buffers(i)(r).asInstanceOf[Double])(Ordering.Double.TotalOrdering)
          case StringType => rowsIn.sortBy(r => buffers(i)(r).asInstanceOf[String])
          case _ => rowsIn
        }
    }
    val suffix = f"${queryId}_$partitionId%05d_$segSeq%03d"
    // tmp dir is attempt-unique (taskId): a speculative/zombie sibling
    // attempt can never delete or interleave with a live attempt's
    // in-progress output; dedup happens at commit on the deterministic
    // seg_ name. Reclaim only THIS attempt's own leftover (re-entry).
    val tmpDir = Paths.get(path, s"tmp_${suffix}_t$taskId")
    PinotCompact.deleteRecursively(tmpDir)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      def vals[T]: Seq[T] = rows.map(r => buffers(i)(r).asInstanceOf[T])
      // dictionaries pay off only when values repeat; high-cardinality
      // numerics (metrics) go RAW fixed-byte+LZ4 like Pinot's
      // noDictionary columns (extension: the reference rejects RAW
      // numerics entirely)
      // inverted columns force dictionary encoding (index needs dictIds)
      def highCard(distinct: Int, n: Int): Boolean =
        !invCols(f.name) && !starDims(f.name) && distinct * 10 > n * 7
      f.dataType match {
        case IntegerType =>
          val v = vals[Int].toArray
          if (highCard(v.distinct.length, v.length))
            SegmentWriter.IntRawCol(f.name, v)
          else SegmentWriter.IntCol(f.name, v)
        case LongType =>
          val v = vals[Long].toArray
          if (highCard(v.distinct.length, v.length))
            SegmentWriter.LongRawCol(f.name, v)
          else SegmentWriter.LongCol(f.name, v)
        case FloatType =>
          val v = vals[Float].toArray
          if (highCard(v.distinct.length, v.length))
            SegmentWriter.FloatRawCol(f.name, v)
          else SegmentWriter.FloatCol(f.name, v)
        case DoubleType =>
          val v = vals[Double].toArray
          if (highCard(v.distinct.length, v.length))
            SegmentWriter.DoubleRawCol(f.name, v)
          else SegmentWriter.DoubleCol(f.name, v)
        case StringType if jsonCols(f.name) =>
          // JSON storage type (same heuristic as strings: RAW for
          // high-cardinality payloads, dict for repeated documents)
          val values = vals[String].toArray
          if (values.distinct.length * 2 > values.length)
            SegmentWriter.JsonRawCol(f.name, values)
          else SegmentWriter.JsonDictCol(f.name, values)
        case StringType =>
          val values = vals[String].toArray
          // high-cardinality strings → RAW+LZ4; low-cardinality → dict
          // (inverted columns always dict — the index addresses dictIds)
          if (!invCols(f.name) && !starDims(f.name) &&
              values.distinct.length * 2 > values.length)
            SegmentWriter.StringRawCol(f.name, values,
              VarByteChunkV4.Lz4LengthPrefixed, 64 * 1024)
          else SegmentWriter.StringDictCol(f.name, values)
        case BooleanType => SegmentWriter.BoolCol(f.name, vals[Boolean].toArray)
        case TimestampType => SegmentWriter.TimestampCol(f.name, vals[Long].toArray)
        case _: DecimalType =>
          SegmentWriter.BigDecimalRawCol(f.name,
            vals[java.math.BigDecimal].toArray)
        case BinaryType =>
          SegmentWriter.BytesRawCol(f.name, vals[Array[Byte]].toArray,
            VarByteChunkV4.Lz4LengthPrefixed, 64 * 1024)
        case ArrayType(IntegerType, _) =>
          SegmentWriter.IntMVCol(f.name, vals[Array[Int]].toArray)
        case ArrayType(LongType, _) =>
          SegmentWriter.LongMVCol(f.name, vals[Array[Long]].toArray)
        case ArrayType(DoubleType, _) =>
          SegmentWriter.DoubleMVCol(f.name, vals[Array[Double]].toArray)
        case ArrayType(StringType, _) =>
          SegmentWriter.StringMVCol(f.name, vals[Array[String]].toArray)
        case other => throw new PinotFormatException(s"unsupported $other")
      }
    }.toSeq
    // null-value vectors: buffer-index nulls remapped to segment docIds
    val nullVecs: Map[String, Array[Int]] =
      schema.fields.zipWithIndex.flatMap { case (f, i) =>
        if (nullBits(i).isEmpty) None
        else {
          val docs = rows.iterator.zipWithIndex.collect {
            case (bufIdx, d) if nullBits(i)(bufIdx) => d
          }.toArray
          if (docs.isEmpty) None else Some(f.name -> docs)
        }
      }.toMap
    SegmentWriter.write(tmpDir, tableName, s"seg_$suffix", cols, invCols,
      nullVecs, timeCol, starTreeSpec, bloomCols, rangeCols = rangeCols,
      textCols = textCols, textAnalyzer = textAnalyzer,
      jsonIdxCols = jsonIdxCols,
      sketchCols = sketchCols)
    flushed += ((tmpDir.toString, s"seg_$suffix"))
    segSeq += 1
  }

  override def commit(): WriterCommitMessage = {
    flush()
    PinotCommitMessage(flushed.toSeq, totalRows)
  }

  /** Failed/speculative tasks never reach driver-side commit, so their
    * already-flushed tmp dirs must be reclaimed here or they leak forever
    * (invisible to reads — discovery skips `tmp*` — but unbounded disk).
    */
  override def abort(): Unit =
    flushed.foreach { case (t, _) =>
      PinotCompact.deleteRecursively(Paths.get(t)) }

  override def close(): Unit = ()
}
