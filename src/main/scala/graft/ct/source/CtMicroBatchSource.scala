package graft.ct.source

import java.time.Instant
import java.util
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ct.{CtHttpSource, LogList, RawEntry}

/** S3 + S4: tree size high-watermark and contiguous entry fetch.
  *
  * Both methods are called concurrently: `treeSize` from the driver,
  * `fetchEntries` from every partition reader on the executors. An
  * implementation with shared mutable state (a single connection, a
  * reused buffer) must synchronize or use per-thread resources. Fixture
  * sources built on immutable maps are safe by construction.
  *
  * `fetchEntries` MAY return fewer entries than the requested range
  * (RFC 6962 §4.6 allows servers to truncate); [[CtPartitionReader]]
  * re-requests the remainder. */
trait EntrySource {
  def treeSize(log: LogList.CtLog): Long
  def fetchEntries(log: LogList.CtLog, start: Long, endInclusive: Long): Seq[RawEntry]
}

/** DataSource-v2 micro-batch CT source — the engine's one ingest route:
  * S1–S9 as a first-class `readStream` source whose offsets live in the
  * Structured Streaming checkpoint.
  *
  * Mapping to the reference worker (/root/reference/ingestion/ct_ingestor.py):
  *  - S1/S2 (log-list + admission): the `loglist` option carries the
  *    log-list JSON; `LogList.parse` admits usable/frozen in-interval logs
  *    (:49-72, :240-247).
  *  - S3 (get-sth poll): `latestOffset` asks every admitted log its tree
  *    size each trigger (:102-105).
  *  - S4 (get-entries): each `InputPartition` is one (log, [from, to])
  *    range of ≤ `batchSize` entries fetched by its reader (:107-111) —
  *    per-log AND per-range parallelism, where the reference forks one OS
  *    process per log. A short return is re-requested until the range is
  *    covered; the reference's `idx = end + 1` (:223) skipped the tail.
  *  - S5 (offsets): the per-log next-index map IS the streaming Offset;
  *    Spark's checkpoint WAL replaces the offset files (:169,224-226).
  *    Exactly-once: ranges are deterministic per offset pair, and the
  *    downstream (fingerprint, domain) dedup makes replays idempotent.
  *  - S7/S8 (cadence, frozen logs): the trigger sets cadence; a frozen
  *    log's tree size stops moving so it simply stops producing batches.
  *  - S9 (error retry, :228-230): a log whose get-sth fails is held at
  *    its current offset for that trigger and logged to stderr; the other
  *    logs advance, and the next trigger asks the failing log again.
  *
  * Rows are RAW entries (log_name, entry_index, leaf_input) — parsing and
  * explosion stay in IngestPipeline as ordinary DataFrame transforms, so
  * the source does transport, the pipeline does semantics (one parse
  * implementation for batch and streaming).
  *
  * Options: `loglist` (JSON, required), `now` (ISO instant for admission
  * determinism, default wall clock), `batchsize` (default 512),
  * `maxentriespertrigger` (admission control: cap on how far EACH log's
  * offset may advance per micro-batch, default 512 — reference parity
  * with the worker's per-poll fetch cap, ct_ingestor.py:25,179-180),
  * `sourcekey` (test hook: resolve the entry source from a registry
  * instead of HTTP — local-mode only, documented in CtDsv2Spec).
  */
class CtTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CtMicroBatchSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CtTable(new CaseInsensitiveStringMap(properties))
}

class CtTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "ct_entries"
  override def schema(): StructType = CtMicroBatchSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = CtMicroBatchSource.schema
        override def toBatch: Batch = throw new UnsupportedOperationException(
          "ct source is streaming-only (use readStream)")
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new CtMicroBatchStream(options)
      }
    }
}

/** Streaming offset: per-log next entry index as a SINGLE-LINE JSON object
  * (Spark's offset log is line-delimited — one line per source — so a
  * multi-line json() silently corrupts the checkpoint into phantom
  * sources). Jackson ships with Spark. */
case class CtOffset(next: Map[String, Long]) extends Offset {
  override def json(): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    next.toSeq.sortBy(_._1).foreach { case (n, i) => node.put(n, i) }
    mapper.writeValueAsString(node)
  }
}

object CtOffset {
  def fromJson(s: String): CtOffset = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
    val out = Map.newBuilder[String, Long]
    root.properties().forEach(e => out += (e.getKey -> e.getValue.asLong()))
    CtOffset(out.result())
  }
}

class CtMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val logs: Seq[LogList.CtLog] = {
    val json = Option(options.get("loglist")).getOrElse(
      throw new IllegalArgumentException("ct source requires a 'loglist' option"))
    val now = Option(options.get("now")).map(Instant.parse).getOrElse(Instant.now())
    LogList.parse(json, now)
  }
  private val batchSize = Option(options.get("batchsize")).map(_.toInt)
    .getOrElse(CtMicroBatchSource.BatchSize)
  private val maxEntriesPerTrigger: Long =
    Option(options.get("maxentriespertrigger")).map(_.toLong)
      .getOrElse(CtMicroBatchSource.BatchSize.toLong)
  require(maxEntriesPerTrigger > 0,
    s"maxentriespertrigger must be positive, got $maxEntriesPerTrigger")
  private val sourceKey = Option(options.get("sourcekey"))
  private def source: EntrySource = CtMicroBatchSource.resolve(sourceKey)

  override def initialOffset(): Offset =
    CtOffset(logs.map(_.name -> 0L).toMap)

  /** S3: poll every admitted log's signed tree head for its current size.
    * A log whose get-sth fails is left out, so callers hold it where it is
    * (S9: one log's outage never stops the others). */
  private def availableOffsets(): Map[String, Long] = {
    val src = source
    logs.flatMap { lg =>
      try Some(lg.name -> src.treeSize(lg))
      catch { case NonFatal(e) =>
        System.err.println(s"[ct source] get-sth failed for ${lg.name}: " +
          s"${e.getMessage}; holding its offset until the next trigger")
        None
      }
    }.toMap
  }

  /** Admission control (SupportsAdmissionControl): a fresh start against a
    * real CT log (10⁹ entries) must NOT plan one unbounded catch-up
    * micro-batch — each trigger advances every log by at most
    * `maxentriespertrigger` entries, the same per-poll cap the reference
    * worker enforces (ct_ingestor.py:25,179-180). The cap is PER LOG
    * (reference semantics: one worker per log, each fetching ≤512/poll),
    * not a global row budget split across logs. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxEntriesPerTrigger)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  /** True head positions regardless of the cap — lets the engine report
    * backlog (latestOffset vs endOffset) in progress events. The engine
    * calls this right after `latestOffset(start, limit)`, so it returns
    * the heads that call used (the pinned ones under AvailableNow)
    * instead of asking every log's get-sth a second time. */
  override def reportLatestOffset(): Offset = lastHeads.map(CtOffset(_)).orNull
  @volatile private var lastHeads: Option[Map[String, Long]] = None

  /** SupportsTriggerAvailableNow: without it, Trigger.AvailableNow falls
    * back to Trigger.Once semantics — ONE batch to the current head with
    * the read limit ignored, i.e. exactly the unbounded catch-up batch
    * admission control exists to prevent. With it, the engine pins the
    * target head here and runs capped batches until reaching it. A log
    * whose get-sth fails here is held for the whole run. */
  @volatile private var availableNowEnd: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(availableOffsets())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[CtOffset].next
    val capPerLog = maxRowsOf(limit)
    val heads = availableNowEnd.getOrElse(availableOffsets())
    lastHeads = Some(heads)
    CtOffset(logs.map { lg =>
      val lo = from.getOrElse(lg.name, 0L)
      // a shrinking tree head never rewinds the offset; an unreachable one holds it
      val hi = math.max(heads.getOrElse(lg.name, lo), lo)
      lg.name -> capPerLog.fold(hi)(c => math.min(hi, lo + c))
    }.toMap)
  }

  /** Effective per-log row cap of a ReadLimit tree: tightest maxRows wins;
    * allAvailable / minRows / maxFiles / maxBytes impose no row cap. */
  private def maxRowsOf(limit: ReadLimit): Option[Long] = limit match {
    case r: ReadMaxRows => Some(r.maxRows())
    case c: CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(maxRowsOf).reduceOption(_ min _)
    case _ => None
  }

  override def deserializeOffset(json: String): Offset = CtOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[CtOffset].next
    val to = end.asInstanceOf[CtOffset].next
    logs.flatMap { lg =>
      val lo = from.getOrElse(lg.name, 0L)
      val hi = to.getOrElse(lg.name, lo)
      // one partition per batchSize chunk of [lo, hi): ranges are a pure
      // function of the offset pair, so a replayed batch refetches the
      // exact same entries (exactly-once with the downstream dedup)
      (lo until hi by batchSize.toLong).map { s =>
        CtInputPartition(lg.name, lg.url, lg.state, s,
          math.min(s + batchSize - 1, hi - 1), sourceKey)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new CtPartitionReader(partition.asInstanceOf[CtInputPartition])
    }

  override def commit(end: Offset): Unit = () // checkpoint WAL owns offsets
  override def stop(): Unit = ()
}

/** One get-entries range for one log. Serializable — shipped to executors. */
case class CtInputPartition(logName: String, url: String, state: String,
    from: Long, toInclusive: Long, sourceKey: Option[String]) extends InputPartition

/** S4 on the executor: fetch the partition's range, emit raw rows. A short
  * return (RFC 6962 §4.6) is followed by a request for the rest of the
  * range, so nothing is skipped once the offset commits. An empty return,
  * or one longer than requested, fails the task: the source cannot be
  * trusted to cover the range contiguously. */
class CtPartitionReader(p: CtInputPartition) extends PartitionReader[InternalRow] {
  private lazy val entries: Iterator[RawEntry] = {
    val src = CtMicroBatchSource.resolve(p.sourceKey)
    val log = LogList.CtLog(p.logName, p.url, p.state)
    Iterator.unfold(p.from) { next =>
      if (next > p.toInclusive) None
      else {
        val requested = p.toInclusive - next + 1
        val got = src.fetchEntries(log, next, p.toInclusive)
        if (got.isEmpty || got.length > requested)
          throw new IllegalStateException(s"${p.logName} returned ${got.length} " +
            s"entries for range [$next, ${p.toInclusive}] ($requested requested)")
        Some((got, next + got.length))
      }
    }.flatten
  }
  private var current: RawEntry = _

  override def next(): Boolean =
    if (entries.hasNext) { current = entries.next(); true } else false

  override def get(): InternalRow =
    InternalRow(UTF8String.fromString(current.log_name), current.entry_index,
      UTF8String.fromString(current.leaf_input))

  override def close(): Unit = ()
}

object CtMicroBatchSource {
  /** Reference BATCH_SIZE (ct_ingestor.py:25): entries per get-entries
    * range and, by default, per log per trigger. */
  val BatchSize = 512

  /** Raw-entry schema; field order matches graft.ct.RawEntry. */
  val schema: StructType = StructType(Seq(
    StructField("log_name", StringType, nullable = false),
    StructField("entry_index", LongType, nullable = false),
    StructField("leaf_input", StringType, nullable = false)))

  /** Test hook: an injected EntrySource under a key (same-JVM/local mode —
    * zero-egress tests register fixtures here). Absent a key, the real CT
    * HTTP API client is constructed, which works on any executor. */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, EntrySource]()
  def register(key: String, src: EntrySource): Unit = registry.put(key, src)
  /** Remove a registered fixture (callers register per-run unique keys;
    * without this, a long bench-sweep JVM would retain every run's
    * fixture closures forever — r15 ADVICE). */
  def unregister(key: String): Unit = { registry.remove(key); () }
  def resolve(key: Option[String]): EntrySource = key match {
    case Some(k) => Option(registry.get(k)).getOrElse(
      throw new IllegalStateException(s"no registered ct entry source '$k'"))
    case None => new CtHttpSource()
  }
}
