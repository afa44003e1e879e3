package graft.operators

/** Shared pointer-file plumbing for the stores that publish immutable
  * snapshots behind a one-line pointer: the components artifact's
  * GEN/CURRENT epochs ([[ComponentsArtifact]]), the versioned
  * `b<batchId>` + `_CURRENT` streaming states ([[foldVersion]] — under
  * [[AggState.maintainParquet]], stream_kmv and stream_heavy_hitters)
  * and `CertStore`'s `_commit` token: read, atomic replace, the
  * versioned fold and recursive GC — all through the Hadoop FS API, so
  * an `hdfs://`-rooted store resolves exactly like a local one. A
  * `java.io.File` implementation silently cannot see a cluster FS at
  * all: readers pin to the pre-pointer state forever while writers
  * "publish" onto the driver's local disk (the round-15 defect class).
  *
  * `FileContext` (not `FileSystem`) carries the pointer ops: its
  * `rename(OVERWRITE)` is the atomic-replace primitive on HDFS and
  * POSIX, and its create path writes no checksum sidecars to leak into
  * listings. Object-store caveat: S3A's rename is copy+delete, so the
  * swap degrades to a sub-second non-atomic window — acceptable under
  * the stores' single-writer maintenance contracts (a reader glimpsing
  * the old pointer re-resolves a still-intact snapshot; grace GC keeps
  * it), and a deployment wanting strict atomicity fronts the pointer
  * with its own commit layer. */
private[graft] object FsPointers {

  def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  def fcFor(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileContext = {
    val uri = p.toUri
    if (uri.getScheme == null)
      org.apache.hadoop.fs.FileContext.getFileContext(hadoopConf())
    else org.apache.hadoop.fs.FileContext.getFileContext(uri, hadoopConf())
  }

  /** Contents of a one-line pointer file, or None if absent. */
  def read(root: String, name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(root, name)
    val fc = fcFor(p)
    if (!fc.util().exists(p)) None
    else {
      val in = fc.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(new String(out.toByteArray, "UTF-8").trim)
      } finally in.close()
    }
  }

  /** ONE atomic replace of the pointer file — the only mutation a
    * reader can ever race (see the object note for the S3A caveat).
    * The tmp name carries pid AND nanoTime so two publishing threads in
    * one JVM can never collide (theoretical under the single-writer
    * contracts, but free to guard), and a failed rename deletes its tmp
    * instead of leaving dot-prefixed litter with no GC. */
  def publish(root: String, name: String, value: String): Unit = {
    val cur = new org.apache.hadoop.fs.Path(root, name)
    val tmp = new org.apache.hadoop.fs.Path(root,
      s".${name}_tmp_${ProcessHandle.current().pid()}_${System.nanoTime()}")
    val fc = fcFor(cur)
    var renamed = false
    try {
      val out = fc.create(tmp,
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
          org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(value.getBytes("UTF-8")) finally out.close()
      fc.rename(tmp, cur, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      renamed = true
    } finally {
      if (!renamed && fc.util().exists(tmp)) { fc.delete(tmp, false); () }
    }
  }

  /** Recursive delete through the FS API (snapshot/epoch GC). */
  def deleteDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fc = fcFor(p)
    if (fc.util().exists(p)) { fc.delete(p, true); () }
  }

  /** Live version directory of the versioned state rooted at `root`,
    * or None before the first committed [[foldVersion]]. */
  def currentVersion(root: String): Option[String] =
    read(root, "_CURRENT").map(v => s"$root/$v")

  /** Fold one streaming micro-batch into the versioned state at `root`
    * (created on first call). Layout: `root/b<batchId>/` immutable
    * snapshots + `root/_CURRENT` naming the committed one. `write` gets
    * the committed snapshot (None on the first fold) and the NEW
    * snapshot dir, and writes the merged state there; the pointer is
    * then swapped atomically, so readers never observe a partial state
    * and the fold never reads the dir it overwrites.
    *
    * REPLAY FENCE: the version id is the streaming engine's batchId,
    * and a batch whose id is ≤ the committed one is skipped (returns
    * false, `write` not called). foreachBatch re-delivers a batch whose
    * run crashed after the pointer swap but before the checkpoint
    * commit; re-folding it would double-count a sum state, and would
    * lazily read and Overwrite-write the SAME snapshot dir (the
    * self-clobber). A crash AFTER the snapshot write but BEFORE the
    * swap leaves an orphan dir that the retry overwrites; snapshots
    * older than the previous one are pruned (the previous one is kept
    * for readers that resolved the pointer just before the swap).
    * Single-writer by contract — exactly what a foreachBatch sink
    * provides (one query's micro-batches run serially). */
  def foldVersion(spark: org.apache.spark.sql.SparkSession, root: String,
      batchId: Long)(
      write: (Option[org.apache.spark.sql.DataFrame], String) => Unit): Boolean = {
    val committed = read(root, "_CURRENT")
    if (committed.exists(_.stripPrefix("b").toLong >= batchId)) return false
    val newDir = s"b$batchId"
    write(committed.map(v => spark.read.parquet(s"$root/$v")), s"$root/$newDir")
    publish(root, "_CURRENT", newDir)
    val keep = Set(newDir) ++ committed
    val rootP = new org.apache.hadoop.fs.Path(root)
    fcFor(rootP).util().listStatus(rootP)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b") &&
        !keep.contains(st.getPath.getName))
      .foreach(st => deleteDir(st.getPath.toString))
    true
  }
}
