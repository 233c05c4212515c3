package graft.spark

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.GraftConnectorShim
import org.apache.spark.sql.types.StructType
import graft.table.{Meta, TableIO}
import graft.table.iceberg.{IcebergAvro, IcebergMetadata, IcebergTable}
import scala.jdk.CollectionConverters._

/** What a table format says about one snapshot on its streamed lineage. */
sealed trait StreamVerdict
object StreamVerdict {
  /** its added files are new rows: stream them */
  case object Emit extends StreamVerdict
  /** it re-expresses existing rows (compaction): advance past it */
  case object Skip extends StreamVerdict
  /** it removes or replaces rows, which an append-only stream cannot
    * represent: fail the batch that reaches it */
  final case class Fail(message: String) extends StreamVerdict
}

/** One snapshot on a streamed lineage: its verdict, and the (files,
  * bytes) its summary says it added — None when the summary cannot
  * say, and the stream resolves the file list instead. */
final case class StreamSnapshot(id: Long, verdict: StreamVerdict,
    addedCounts: Option[(Long, Long)])

/** A data file one snapshot added. `path` is the metadata's own form
  * (a partial offset hashes these), `uri` what readers open, and
  * `group` the add_files import group it must not share a bin with. */
final case class AddedFile(path: String, uri: String, sizeBytes: Long,
    group: Option[ImportedGroup] = None)

/** One table format's snapshot timeline as of one metadata load: all
  * the shared micro-batch stream needs from a format. */
trait StreamTimeline {
  /** names the table in failure messages */
  def table: String
  /** the streamed lineage, oldest first */
  def chain: IndexedSeq[StreamSnapshot]
  /** the data files snapshot `id` added, in a stable order */
  def addedFiles(id: Long): Seq[AddedFile]
  /** the batch's reader factory; `groups` binds each file of an
    * import-group bin (PartitionBindKey) to its group */
  def readerFactory(groups: Map[String, ImportedGroup]): PartitionReaderFactory
}

/** Streaming SOURCE over a table of either format: each micro-batch
  * reads the data files ADDED by the snapshots committed since the
  * last batch — the incremental append scan (reference: DataFusion's
  * Iceberg tables stream new snapshots the same way; Iceberg calls it
  * the incremental append read). The format supplies its timeline;
  * everything else lives here.
  *
  * OFFSETS are (snapshotId, filePos, listHash). filePos < 0 means the
  * snapshot is fully consumed, serialized as the bare snapshot id, so
  * older checkpoints resume unchanged. filePos >= 0 means the first
  * filePos files of that snapshot's added-file list are consumed; the
  * list's hash is re-checked on resume, so a list rewritten under the
  * checkpoint (expire squash) fails loudly instead of replaying the
  * wrong prefix. Offsets order by their snapshot's index on the chain
  * (Iceberg snapshot ids are arbitrary longs), and a checkpoint that
  * is no longer on the chain fails loudly too. A fresh stream starts
  * before the chain's first snapshot, or after `startingSnapshotId`.
  *
  * ADMISSION CONTROL: `maxFilesPerTrigger` / `maxBytesPerTrigger`
  * clamp each micro-batch at FILE granularity, so one giant append
  * drains in bounded, checkpoint-resumable batches instead of an
  * all-or-nothing job. Snapshots whose summary fits the remaining
  * budget are admitted wholesale (no manifest read on the poll path);
  * only the snapshot the budget lands IN has its file list resolved.
  * Trigger.AvailableNow is native: the target pins at query start. */
class TableMicroBatchStream(timeline: () => StreamTimeline,
    options: Map[String, String])
  extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import TableMicroBatchStream._

  private case class StreamOffset(id: Long, filePos: Int, listHash: Long)
      extends Offset {
    override def json(): String =
      if (filePos < 0) id.toString else s"$id:$filePos:$listHash"
  }

  private def complete(id: Long) = StreamOffset(id, -1, 0L)

  private def filesHash(files: Seq[AddedFile]): Long =
    scala.util.hashing.MurmurHash3.orderedHash(files.map(_.path)).toLong

  /** Added-file lists of the snapshots this query is reading, so
    * steady-state polls do not re-read manifests; commit drops the
    * snapshots it fully consumed. */
  private val added = new java.util.concurrent.ConcurrentHashMap[Long, Seq[AddedFile]]()
  @volatile private var lastChain: IndexedSeq[Long] = IndexedSeq.empty

  private[graft] def memoized: Set[Long] =
    added.keySet.asScala.map(_.longValue).toSet

  private def files(tl: StreamTimeline, id: Long): Seq[AddedFile] =
    added.computeIfAbsent(id, _ => tl.addedFiles(id))

  private def load(): StreamTimeline = {
    val tl = timeline()
    lastChain = tl.chain.map(_.id)
    tl
  }

  private def head(tl: StreamTimeline): Long = tl.chain.lastOption.fold(0L)(_.id)

  /** Chain index of the snapshot an offset sits in; -1 = before the
    * first snapshot. */
  private def indexOf(tl: StreamTimeline, id: Long): Int =
    if (id == 0L) -1
    else tl.chain.indexWhere(_.id == id) match {
      case -1 => throw new IllegalStateException(
        s"checkpointed snapshot $id is no longer on the streamed lineage " +
          s"of ${tl.table} (expired — an expire squash folds it into a " +
          "new base — or rolled back past); the stream cannot resume " +
          "exactly — re-read the table as a batch source and start a " +
          "fresh stream")
      case i => i
    }

  /** A `startingSnapshotId` pin emits only changes committed AFTER
    * that snapshot (Iceberg's stream-from-snapshot option); a pin off
    * the streamed lineage fails here rather than skipping everything.
    * Checkpointed streams never reach this (Spark restores the offset). */
  override def initialOffset(): Offset =
    opt(options, "startingSnapshotId").map(_.toLong) match {
      case None => complete(0L)
      case Some(pin) =>
        val tl = load()
        if (!tl.chain.exists(_.id == pin)) throw new IllegalArgumentException(
          s"startingSnapshotId $pin is not a snapshot on the streamed " +
            s"lineage of ${tl.table}")
        complete(pin)
    }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      opt(options, "maxFilesPerTrigger").map(n => ReadLimit.maxFiles(n.toInt)),
      opt(options, "maxBytesPerTrigger").map(n => ReadLimit.maxBytes(n.toLong))).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Trigger.AvailableNow: pin the drain target at query start — data
    * committed after this point belongs to the next run. */
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(head(load()))

  /** (maxFiles, maxBytes) a ReadLimit allows per batch. */
  private def caps(limit: ReadLimit): (Long, Long) = limit match {
    case f: ReadMaxFiles => (f.maxFiles().toLong, Long.MaxValue)
    case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes())
    case c: CompositeReadLimit =>
      c.getReadLimits.map(caps).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2)))
    case _ => (Long.MaxValue, Long.MaxValue)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[StreamOffset]
    val tl = load()
    val chain = tl.chain
    val startIdx = indexOf(tl, s.id)
    val capIdx = availableNowCap match {
      case Some(cap) =>
        val i = chain.indexWhere(_.id == cap)
        if (i < 0) startIdx else i
      case None => chain.size - 1
    }
    val pending = chain.slice(startIdx + 1, capIdx + 1)
    if (s.filePos < 0 && pending.isEmpty) return s

    val (maxFiles, maxBytes) = caps(limit)
    var fileCount = 0L; var bytes = 0L
    var admittedAny = false
    var end: StreamOffset = s

    // admit a snapshot's files from index `from`; always admits at
    // least one file overall so the stream progresses even when one
    // file exceeds the byte cap. Returns false when it stopped
    // mid-snapshot (budget exhausted).
    def admitFiles(id: Long, from: Int): Boolean = {
      val fs = files(tl, id)
      var i = from
      while (i < fs.size) {
        if (admittedAny &&
            (fileCount + 1 > maxFiles || bytes + fs(i).sizeBytes > maxBytes)) {
          end = StreamOffset(id, i, filesHash(fs))
          return false
        }
        fileCount += 1; bytes += fs(i).sizeBytes; admittedAny = true
        i += 1
      }
      end = complete(id)
      true
    }

    // first drain the partially-consumed start snapshot
    if (s.filePos >= 0 && !admitFiles(s.id, s.filePos)) return end
    val it = pending.iterator
    var stop = false
    while (it.hasNext && !stop) {
      val sn = it.next()
      // skipped and failing snapshots advance the offset: planning
      // skips the former and fails loudly on the latter
      if (sn.verdict != StreamVerdict.Emit) end = complete(sn.id)
      else sn.addedCounts match {
        case Some((f, b)) if fileCount + f <= maxFiles && bytes + b <= maxBytes =>
          fileCount += f; bytes += b
          admittedAny |= f > 0
          end = complete(sn.id)
        case _ => stop = !admitFiles(sn.id, 0)
      }
    }
    end
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def reportLatestOffset(): Offset = complete(head(load()))

  override def deserializeOffset(json: String): Offset = json.split(":") match {
    case Array(id) => complete(id.toLong)
    case Array(id, p, h) => StreamOffset(id.toLong, p.toInt, h.toLong)
    case _ => throw new IllegalArgumentException(s"bad stream offset: $json")
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[StreamOffset]
    val e = end.asInstanceOf[StreamOffset]
    if (s.id == e.id && s.filePos == e.filePos) return Array.empty
    val tl = load()
    val inRange = tl.chain.slice(indexOf(tl, s.id) + 1, indexOf(tl, e.id) + 1)
    // a PARTIAL checkpoint indexes into the snapshot's file list: if
    // the list was rewritten underneath (expire squash folds the chain
    // into a base), the consumed prefix no longer means the same
    // files — fail loudly rather than replay the wrong ones
    if (s.filePos >= 0 && filesHash(files(tl, s.id)) != s.listHash)
      throw new IllegalStateException(
        s"snapshot ${s.id}'s added-file list changed since the checkpoint " +
          "(an expire squash rewrote it); the stream cannot resume exactly " +
          "— re-read the table as a batch source and start a fresh stream")
    inRange.foreach(_.verdict match {
      case StreamVerdict.Fail(msg) => throw new IllegalStateException(msg)
      case _ =>
    })
    // the batch covers (start, end]: the start snapshot's remaining
    // files, whole snapshots strictly between, and the end snapshot's
    // admitted prefix
    val startTail =
      if (s.filePos < 0) Seq.empty
      else {
        val fs = files(tl, s.id)
        fs.slice(s.filePos, if (e.id != s.id || e.filePos < 0) fs.size else e.filePos)
      }
    val batch = startTail ++ inRange.filter(_.verdict == StreamVerdict.Emit)
      .flatMap { sn =>
        val fs = files(tl, sn.id)
        if (sn.id == e.id && e.filePos >= 0) fs.take(e.filePos) else fs
      }
    // bins never mix import groups: imported (id-less) files read
    // through a renamed-schema factory with identity-constant fill,
    // routed per bin
    val spark = SparkSession.active
    val target = GraftConnectorShim.maxSplitBytes(spark, batch.map(_.sizeBytes))
    val bins = batch.groupBy(_.group).toSeq
      .sortBy(_._1.fold("")(g => g.mapping.toSeq.sorted.mkString(",") + "|" +
        g.specId + "|" + g.partitionValues.toSeq.sorted.mkString(",")))
      .flatMap { case (group, fs) =>
        GraftConnectorShim.packFiles(spark, fs, target)(_.uri, _.sizeBytes).map(group -> _)
      }
    groupsByFile = bins.flatMap {
      case (Some(g), bin) => bin.map(f => PartitionBindKey.ofPath(f.uri) -> g)
      case _ => Seq.empty
    }.toMap
    bins.zipWithIndex.map { case ((_, bin), i) =>
      GraftConnectorShim.filePartition(i, bin.map(f =>
        GraftConnectorShim.partitionedFile(f.uri, f.sizeBytes, 0L))): InputPartition
    }.toArray
  }

  /** file binding key → import group for the CURRENT batch (same
    * stable file-identity binding the batch scan uses). */
  @volatile private var groupsByFile: Map[String, ImportedGroup] = Map.empty

  override def createReaderFactory(): PartitionReaderFactory =
    timeline().readerFactory(groupsByFile)

  /** Drop the memoized lists of snapshots consumed at or before `end`. */
  override def commit(end: Offset): Unit = {
    val e = deserializeOffset(end.json()).asInstanceOf[StreamOffset]
    val unread = lastChain.drop(lastChain.indexOf(e.id) + 1).toSet ++
      (if (e.filePos >= 0) Set(e.id) else Set.empty)
    added.keySet.removeIf(id => !unread.contains(id))
  }

  override def stop(): Unit = ()
}

object TableMicroBatchStream {
  private def opt(options: Map[String, String], name: String): Option[String] =
    options.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  def graft(root: String, requiredSchema: StructType,
      options: Map[String, String] = Map.empty): TableMicroBatchStream =
    new TableMicroBatchStream(
      () => new GraftStreamTimeline(root, requiredSchema), options)

  def iceberg(location: String, requiredSchema: StructType,
      options: Map[String, String] = Map.empty): TableMicroBatchStream =
    new TableMicroBatchStream(() => new IcebergStreamTimeline(
      location, requiredSchema, opt(options, "branch")), options)
}

/** A graft table's main chain. Snapshot ids are allocated max+1, so
  * chain order is id order; branch commits and rollback orphans share
  * the snapshots list but stay off the chain, so they never leak into
  * the stream. */
final class GraftStreamTimeline(root: String, requiredSchema: StructType)
  extends StreamTimeline {
  private val m = Meta.load(root)

  def table: String = s"graft table $root"

  // Only `append` snapshots contribute rows. "rewrite" is reserved for
  // pure bin-pack compaction (rows preserved exactly) and is skipped;
  // delete-folding rewrites commit as "rewrite-fold" and fail, like
  // every op that mutates visible content. A PARENT-LESS snapshot is
  // the live set itself (a table's first snapshot, or an
  // expire-squashed base); it can only head the chain, so only a fresh
  // stream reaches it, and emitting it is exactly right whatever its
  // label. A resumed stream whose checkpoint was squashed away fails
  // because the checkpoint left the chain.
  lazy val chain: IndexedSeq[StreamSnapshot] =
    m.chainSnapshots(None).toIndexedSeq.map { sn =>
      val verdict =
        if (sn.operation == "append" || sn.parentId.isEmpty) StreamVerdict.Emit
        else if (sn.operation == "rewrite") StreamVerdict.Skip
        else StreamVerdict.Fail(
          s"streaming read reached ${sn.operation} snapshot ${sn.snapshotId}; " +
            "append-only streams cannot represent replaced/deleted rows — " +
            "re-read the table as a batch source")
      StreamSnapshot(sn.snapshotId, verdict, for {
        f <- sn.summary.get("added-files").flatMap(_.toLongOption)
        b <- sn.summary.get("added-bytes").flatMap(_.toLongOption)
      } yield (f, b))
    }

  def addedFiles(id: Long): Seq[AddedFile] = {
    val dataDir = TableIO.path(root, "data")
    m.snapshot(id).toSeq.flatMap(_.files).map(f => AddedFile(f.path,
      new Path(dataDir, f.path).toString, f.fileSizeBytes,
      f.nameMapping.map(ImportedGroup(_, f.specId, f.partitionValues))))
  }

  def readerFactory(groups: Map[String, ImportedGroup]): PartitionReaderFactory =
    GraftScanSource.readerFactory(m, requiredSchema, Array.empty, groups)
}

/** A real-format Iceberg table's ancestry, of the `branch` ref's head
  * when one is pinned and of the current snapshot otherwise. Snapshot
  * ids are arbitrary longs, so order follows the parent chain; other
  * branches and rolled-back orphans stay off it. */
final class IcebergStreamTimeline(location: String,
    requiredSchema: StructType, branch: Option[String]) extends StreamTimeline {
  private val m = IcebergMetadata.load(location)
  private lazy val t = IcebergTable.fromMetadataAt(SparkSession.active, location, m)

  def table: String = s"Iceberg table $location"

  // `append` emits; `replace` (compaction — rows preserved) is
  // skipped; `overwrite` / `delete` fail
  lazy val chain: IndexedSeq[StreamSnapshot] = {
    val headId = branch match {
      case Some(b) => Some(m.refs.getOrElse(b, throw new IllegalArgumentException(
        s"branch '$b' not found in Iceberg table $location")))
      case None => m.currentSnapshotId
    }
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(headId.flatMap(byId.get))(_.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.toVector.reverse.map { sn =>
        val verdict = sn.operation match {
          case "append" => StreamVerdict.Emit
          case "replace" => StreamVerdict.Skip
          case op => StreamVerdict.Fail(
            s"streaming read reached $op snapshot ${sn.snapshotId} of " +
              s"Iceberg table $location; append-only streams cannot " +
              "represent replaced/deleted rows — re-read the table as a " +
              "batch source")
        }
        StreamSnapshot(sn.snapshotId, verdict, for {
          f <- sn.summary.get("added-data-files").flatMap(_.toLongOption)
          b <- sn.summary.get("added-files-size").flatMap(_.toLongOption)
        } yield (f, b))
      }
  }

  /** Resolves from the snapshot's OWN manifests only (manifest-list
    * entries it added, entries with status ADDED): IO per poll scales
    * with the delta, not the table. A snapshot that ADDS delete
    * manifests fails, whatever its label. */
  def addedFiles(id: Long): Seq[AddedFile] = {
    val sn = m.snapshot(id).getOrElse(throw new IllegalStateException(
      s"snapshot $id is not in Iceberg table $location"))
    val mine = IcebergAvro.readManifestList(t.resolvePath(sn.manifestList))
      .filter(_.addedSnapshotId == id)
    if (mine.exists(_.content == 1)) throw new IllegalStateException(
      s"snapshot $id of Iceberg table $location adds delete files; " +
        "append-only streams cannot represent deleted rows — re-read the " +
        "table as a batch source")
    mine.flatMap(mf => IcebergAvro.readManifest(t.resolvePath(mf.path)))
      .filter(e => e.status == 1 && e.content == 0)
      .map(e => AddedFile(e.filePath,
        TableIO.qualified(t.resolvePath(e.filePath)), e.fileSizeBytes))
  }

  // field-id resolution, same as the batch scan: a stream replaying
  // from an early snapshot reads files written BEFORE a rename, and
  // name-based resolution would silently null-fill their columns
  def readerFactory(groups: Map[String, ImportedGroup]): PartitionReaderFactory =
    IcebergScanSource.readerFactory(t, m.schema, requiredSchema, Array.empty)
}

/** Structured Streaming sink for both table formats:
  * `df.writeStream.format("graft")` on a graft root, and
  * `writeStream.toTable` on an adopted or REST-catalog Iceberg table.
  * Executors stage each epoch's parquet under `epoch-<id>` of a per-run
  * `stage-stream-*` dir, partition-routed like batch writes. The
  * driver commits ONE snapshot per epoch through the format's
  * `commitEpoch`, stamped with the stable query id and epoch id
  * (graft.table.StreamEpoch), so a recovery replay of an
  * already-committed epoch commits nothing (Iceberg's streaming writer
  * dedups the same way). Complete mode (`truncate`) replaces the
  * table's content per epoch. Crashed epochs leave only a
  * `stage-stream-*` dir that remove_orphan_files sweeps. */
class StagedStreamingWrite(root: String, truncate: Boolean,
    factory: String => GraftWriterFactory,
    commitEpoch: (Path, Long) => Boolean)
  extends StreamingWrite {

  // per-RUN staging root: a crashed run's half-staged epoch can never
  // leak into a later run's ingest (it becomes an orphan dir instead)
  private val staging = TableIO.path(root,
    s"stage-stream-${java.util.UUID.randomUUID().toString.take(8)}")

  private def epochDir(epochId: Long) = new Path(staging, s"epoch-$epochId")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = factory(staging.toString)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.collect { case GraftCommitMessage(_, n) => n }.sum
    // a rowless append batch (watermark-only tick) commits nothing —
    // but an EMPTY complete-mode result must still truncate
    val committed = (rows > 0 || truncate) && commitEpoch(epochDir(epochId), epochId)
    // replayed or rowless epochs consumed nothing — drop the residue;
    // a consumed epoch leaves the run root empty, so drop that too
    // (the next epoch's writers re-mkdir on demand)
    if (!committed || (TableIO.exists(staging) && TableIO.listDir(staging).isEmpty))
      TableIO.delete(staging, recursive = true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    TableIO.delete(epochDir(epochId), recursive = true)
}
