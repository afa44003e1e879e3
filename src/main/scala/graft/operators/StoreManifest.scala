package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The bookkeeping kernel of the append-validated stores — the band
  * index ([[Dedup.writeBandIndex]]), the corpus text store
  * ([[CorpusStore]]) and the components artifact
  * ([[ComponentsArtifact]]): the one-row meta parquet, the listing
  * manifest, the torn-append check, the footer row count and the
  * corpus-of-record receipt, each written once here. A store is its
  * layout (dir names, partition column, meta fields) plus calls into
  * this object; pointer publication lives in [[FsPointers]].
  *
  * The cheap at-rest integrity token is data-file COUNT + total BYTES
  * from one parallel listing of a store's partition dirs.
  *
  * Why a listing and not a row count: the torn-append failure mode the
  * stores guard against is a crash between a committed row append and
  * its meta rewrite — which leaves whole committed FILES beyond what
  * meta records, never a partial file (the committer publishes files
  * atomically per task). A (file count, byte sum) mismatch therefore
  * detects every tear a footer row-count did, but costs one listing
  * instead of opening every file's row-group footer — and the footer
  * pass is O(store files) per APPEND: the round-14 cstore_append probe
  * measured it growing 8.8 → 42 → 92 s across ×1/×10/×100 (a ~9k-file
  * store pays ~7-9 s of pure footer opens per append) on an operation
  * whose write side is increment-bounded. Row-count validation remains
  * where it belongs: build time and the compaction's row-preserving
  * invariant, both already corpus-scale maintenance ops.
  *
  * Listing is parallel on a bounded driver pool ([[listEach]], shared
  * with [[PartitionCompaction]]'s drift detection): 10⁵ dirs × ~50
  * ms/list serial ≈ hours on object storage, ~minutes at 32-way.
  * Underscore/dot-prefixed entries are invisible, matching Spark's own
  * file-listing rules. */
private[graft] object StoreManifest {

  /** A store dir's listing: data file count, total data bytes, and the
    * per-partition-dir fragmentation maximum — `maxPerDir` is the
    * largest data-file count among the immediate partition dirs (0 when
    * there are none). One parallel listing serves BOTH the torn-append
    * manifest and a store's file-fragmentation drift check; before
    * round 15 the components append paid a SECOND, serial O(buckets)
    * listing of the same dirs for the drift direction-(c) probe —
    * ~minutes per append at 4096 object-storage dirs. */
  final case class Detailed(files: Long, bytes: Long, maxPerDir: Int)

  /** Listing of the store dir at `path` (one level of partition dirs,
    * `partPrefix=value/files`, plus any data files directly at the
    * root), through the session's Hadoop conf. */
  def list(s: SparkSession, path: String): Detailed = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    val top = fs.listStatus(root).filter(st => visible(st.getPath.getName))
    val (dirs, rootFiles) = top.partition(_.isDirectory)
    val perDir = listEach(fs, dirs.toSeq.map(_.getPath))
      .map(_.filter(f => f.isFile && visible(f.getPath.getName)))
    Detailed(rootFiles.length + perDir.map(_.length.toLong).sum,
      rootFiles.map(_.getLen).sum + perDir.map(_.map(_.getLen).sum).sum,
      perDir.map(_.length).foldLeft(0)(math.max))
  }

  /** A data file or dir name Spark's own listing would see. */
  def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** `listStatus` of each dir, in parallel on a bounded driver pool —
    * driver threads, not a Spark job: the work is pure metadata I/O and
    * a job would pay scheduling for nothing. Rethrows any listing
    * failure. */
  def listEach(fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[org.apache.hadoop.fs.Path]): Seq[Array[org.apache.hadoop.fs.FileStatus]] =
    if (dirs.isEmpty) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(32, dirs.length))
      try pool.invokeAll(dirs.map { d =>
          new java.util.concurrent.Callable[Array[org.apache.hadoop.fs.FileStatus]] {
            def call(): Array[org.apache.hadoop.fs.FileStatus] = fs.listStatus(d)
          }
        }.asJava).asScala.map(_.get()).toSeq
      finally pool.shutdown()
    }

  /** One store dir as meta recorded it: `label` names it in the
    * torn-append error, `files`/`bytes` are meta's manifest. */
  final case class Recorded(label: String, path: String, files: Long,
      bytes: Long)

  /** The torn-append check: every recorded dir's listing must equal
    * meta's manifest, else a prior append or compaction crashed between
    * its data write and its meta rewrite and `remedy` says how to
    * recover. Returns the listings (the components append reuses the
    * shingle dir's `maxPerDir` for its drift probe). */
  def requireUntorn(s: SparkSession, dir: String, recorded: Seq[Recorded],
      remedy: String): Seq[Detailed] = {
    val have = recorded.map(r => list(s, r.path))
    val both = recorded.zip(have)
    require(both.forall { case (r, d) => d.files == r.files && d.bytes == r.bytes },
      s"torn append detected at $dir: " +
        both.map { case (r, d) => s"${r.label} holds ${d.files} files / ${d.bytes} bytes" }
          .mkString(" and ") +
        " but meta records " +
        recorded.map(r => s"${r.files} / ${r.bytes}").mkString(" and ") + s" — $remedy")
    have
  }

  /** Write a store's one-row meta parquet at `path` (replacing it). */
  def writeMeta(s: SparkSession, path: String, fields: Column*): Unit = {
    s.range(1).select(fields: _*).coalesce(1).write.mode("overwrite").parquet(path)
    ()
  }

  /** Read the one-row meta at `path`, refusing a missing one with
    * `missing` (the store's actionable build/migrate message) instead
    * of a raw path-not-found. Fields are read by NAME from the row. */
  def readMeta(s: SparkSession, path: String, missing: => String): Row = {
    val p = new org.apache.hadoop.fs.Path(path)
    require(p.getFileSystem(s.sessionState.newHadoopConf()).exists(p), missing)
    s.read.parquet(path).head()
  }

  /** Parquet row count from row-group footers (aggregate pushdown — no
    * data pages read), scoped so the session conf is untouched. */
  def footerCount(rows: DataFrame): Long = {
    val s = rows.sparkSession
    val key = "spark.sql.parquet.aggregatePushdown"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try rows.count()
    finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** Corpus-of-record receipt shared by every receipted store: xor of
    * one 64-bit hash per (doc_id, text) row — commutative and
    * append-foldable, collision-hard to ~2⁻⁶⁴, text-tampering visible
    * (a raw-id xor is trivially constructible: {0,3} vs {1,2} both xor
    * to 3). Duplicated identical rows cancel pairwise in the xor, which
    * the count beside it covers. ONE definition so the stores can never
    * drift on receipt semantics (round-12 verdict ask #6); metas record
    * it as `receipt_kind = "xxhash64_v1"`. */
  def docReceipt: Column =
    coalesce(expr("bit_xor(xxhash64(doc_id, text))"), lit(0L))

  /** (row count, [[docReceipt]]) of a (doc_id, text) frame, one pass. */
  def receiptOf(docs: DataFrame): (Long, Long) = {
    val Array(r) = docs.agg(count(lit(1)), docReceipt).collect()
    (r.getLong(0), r.getLong(1))
  }

  /** Maintenance check: does `corpus` match the store's build+append
    * history (meta's doc count and receipt)? One bounded aggregate over
    * the corpus — NOT a query-path check (it scans the corpus, the cost
    * the stores exist to avoid). */
  def requireReceipt(corpus: DataFrame, dir: String, nDocs: Long,
      docXor: Long): Unit = {
    val (n, x) = receiptOf(corpus)
    require(n == nDocs && docXor == x,
      s"corpus-of-record mismatch at $dir: supplied corpus has $n docs / " +
        s"receipt $x but meta records $nDocs docs / receipt $docXor" +
        " — the corpus " +
        "differs from the build+append history (missing docs, swapped ids " +
        "or altered text)")
  }
}
