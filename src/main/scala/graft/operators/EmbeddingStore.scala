package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** IVF-style layout for an embedding corpus: vectors written to Parquet
  * Hive-partitioned by their hyperplane-LSH cell, so an ANN probe reads
  * ONE cell directory instead of the whole table — the "bucket id as the
  * partition/cluster key" end state the in-memory `Similarity.lshKnn`
  * documents.
  *
  * At 100 TB this is the difference between a query-time scan of every
  * vector and a point lookup: the probe's cell predicate is a partition
  * filter (proven by `EmbeddingStoreSpec` on FileSourceScanExec), and with
  * 2^nPlanes cells each directory holds corpus/2^p vectors. Multi-probe
  * (≤ f bit flips) stays a partition-pruned read because the probed cell
  * values are enumerable. Cell assignment is the same deterministic
  * LshBands family the dedup/ANN operators use, so a store written once
  * serves all of them. */
object EmbeddingStore {

  val partitionCol = "lsh_bucket"

  /** Write the corpus partitioned by LSH cell (one shuffle on the cell id,
    * large sorted files per cell — the CertStore discipline). */
  def write(embeddings: DataFrame, path: String, nPlanes: Int = 4,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    // The append path stays on the stock committer DELIBERATELY — a
    // direct per-cell placement variant (staging write + per-file
    // renames, the write-side mirror of directStore) was built and
    // measured against it on the recluster probe's fragmentation
    // appends and came out COST-IDENTICAL at every scale (×100 appends
    // phase 6.6 vs 6.6 s): Spark's path-based append never lists the
    // existing store (it skips schema validation on path appends), so
    // there was no discovery term to remove; the appends curve's
    // ×1→×100 growth is touched-cell fan-out, saturating at
    // min(|increment|, 2^p) — increment-bounded by construction
    // (SCALE.md round-13 fourth wave). The stock committer keeps the
    // simpler crash story for free.
    embeddings
      .withColumn(partitionCol, V.lshBucket(col("embedding"), nPlanes))
      .repartition(col(partitionCol))
      .sortWithinPartitions("vec_id")
      .write.mode(mode)
      .partitionBy(partitionCol)
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Incremental append: new vectors are routed to the EXISTING cells by
    * construction — cell assignment is the pure deterministic plane
    * function of the vector, not a trained centroid, so an appended batch
    * computes its own cell ids with the same `nPlanes` and lands as
    * additional files inside each cell directory. No existing data is
    * read or rewritten, and probes see the union immediately (the cell
    * predicate prunes exactly as before). The caller owns vec_id
    * uniqueness across batches (same contract as any append-only store).
    * Each append adds ≤ one file per touched cell — after many increments
    * run [[recluster]], the compaction analog for this layout. */
  def append(embeddings: DataFrame, path: String, nPlanes: Int = 4): Unit =
    write(embeddings, path, nPlanes, SaveMode.Append)

  /** Cell compaction ("recluster"): cells whose directories have
    * fragmented past `maxFilesPerCell` (the drift signature of repeated
    * [[append]]s) are rewritten — ALL drifted cells in ONE distributed
    * job (a per-cell loop would run 2^nPlanes sequential jobs and pay
    * scheduler latency per cell; the batched read is partition-pruned to
    * exactly the drifted cells, hashed one-cell-per-task, and written
    * back through the same partitioned layout), then swapped in per cell
    * via rename behind a dot-prefixed tmp dir invisible to partition
    * discovery. Cells within bound are left untouched, so the job's cost
    * scales with DRIFT, not store size. Row content is identical (cell
    * assignment is deterministic, so reclustering never moves a vector
    * between cells), hence probe results are unchanged; only the file
    * layout and intra-cell vec_id order are restored to the
    * freshly-written state. Returns the reclustered cell ids.
    * `targetFilesPerCell` splits a cell's rewrite across that many files
    * (and tasks) — a petabyte cell raises it rather than funneling
    * through one task.
    *
    * Concurrency contract: the delete→rename swap is not atomic — a
    * reader that lists a cell in exactly that window sees it missing
    * (the standard limit of file-layout compaction without a table
    * format's transaction log; run recluster in the maintenance window,
    * or front the store with Delta/Iceberg for serialized swaps). */
  def recluster(spark: SparkSession, path: String, maxFilesPerCell: Int = 4,
      targetFilesPerCell: Int = 1): Seq[Long] = {
    require(maxFilesPerCell >= 1, s"maxFilesPerCell must be >= 1, got $maxFilesPerCell")
    require(targetFilesPerCell >= 1, s"targetFilesPerCell must be >= 1, got $targetFilesPerCell")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    val cells = PartitionCompaction.compactDrifted(spark, fs, root,
      partitionCol, Seq("vec_id"), xxhash64(col("vec_id")),
      maxFilesPerCell, targetFilesPerCell)
    // stderr accounting stays (the components append prints the same)
    System.err.println(s"[embstore] recluster: compacted ${cells.size} cell(s) at $path")
    cells
  }

  /** ANN probe against the store: resolve the query's cell (one pruned
    * point read), then top-k by cosine over that cell's directory only —
    * the scan carries a `lsh_bucket =` partition filter, everything else
    * is never opened. `maxFlips` > 0 widens to the ≤ maxFlips-bit
    * neighbor cells (multi-probe recall recovery), still as an enumerated
    * partition predicate via isin. */
  def knnProbe(spark: SparkSession, path: String, queryId: Long, k: Int = 10,
      nPlanes: Int = 4, maxFlips: Int = 0): DataFrame = {
    val store = read(spark, path)
    // ONE lookup fetches bucket + embedding together (a vec_id predicate
    // cannot prune cell partitions, so this is the single unavoidable
    // store-wide read — everything after is partition-pruned); the query
    // side then enters the probe as a literal broadcast row, not a second
    // store-rooted subquery. Hive partition-dir values are type-inferred
    // on read (often int), hence the Number cast.
    val qRow = store.filter(col("vec_id") === queryId)
      .select(col(partitionCol), col("embedding").cast("array<double>"))
      .limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"queryId $queryId not found in embedding store at $path"))
    val qBucket = qRow.getAs[Number](partitionCol).longValue()
    val qVec = qRow.getSeq[Double](1)
    import spark.implicits._
    val q = Seq((qVec, math.sqrt(qVec.map(x => x * x).sum))).toDF("q_emb", "q_nrm")
    probeCells(store, q, qBucket, nPlanes, maxFlips, excludeId = Some(queryId), k)
  }

  /** ANN probe with an ARBITRARY query vector (the serving path — query
    * vectors are normally not in the corpus). The cell id is the same pure
    * LCG plane function the store was written with, computed driver-side
    * on the one query vector. The probed cell ids are then known
    * driver-side, so the read lists nothing and opens exactly those cell
    * directories under basePath (the partition column still derives
    * from the dir names). Discovery is the cost that grows with the
    * store — ScaleProbe measured a 12-cell probe at 2048 cells
    * discovery-BOUND (5.8 s, and ~4.7 s of that remained with a 1-cell
    * probe); the data path is occupancy·(p+1) rows regardless of corpus
    * size. The per-cell existence checks (bounded: Σ C(p, ≤f) probes)
    * stand in for the catalog/manifest lookup a deployment-scale store
    * front-ends this with. */
  def knnProbeVector(spark: SparkSession, path: String, query: Array[Double],
      k: Int = 10, nPlanes: Int = 4, maxFlips: Int = 0): DataFrame = {
    // cell id via the SAME static kernel the LshBands expression runs on
    // executors — one driver-side call, bit-identical bucketing
    val qBucket = graft.expressions.ArrayExprs.lshBands(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(query), nPlanes, 1).getLong(0)
    val store = directStore(spark, path,
      new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      probedBuckets(qBucket, nPlanes, maxFlips))
    val qNrm = math.sqrt(query.map(x => x * x).sum)
    import spark.implicits._
    val q = Seq((query.toSeq, qNrm)).toDF("q_emb", "q_nrm")
    probeCells(store, q, qBucket, nPlanes, maxFlips, excludeId = None, k)
  }

  /** The direct read [[knnProbeVector]] uses: open exactly the
    * given (existing) cell directories under basePath — the partition
    * column still derives from the dir names, and nothing else is
    * listed. The bounded per-cell existence checks stand in for the
    * catalog/manifest lookup a deployment-scale store fronts this with;
    * cells with no directory contribute no rows, exactly as the
    * partition filter treats them under full discovery. */
  private def directStore(spark: SparkSession, path: String,
      fs: org.apache.hadoop.fs.FileSystem, buckets: Seq[Long]): DataFrame = {
    val dirs = buckets
      .map(b => new org.apache.hadoop.fs.Path(path, s"$partitionCol=$b"))
      .filter(fs.exists(_)).map(_.toString)
    if (dirs.nonEmpty) spark.read.option("basePath", path).parquet(dirs: _*)
    else {
      // all probed cells absent: an empty frame with the store schema,
      // WITHOUT paying the whole-store file discovery this shape exists
      // to avoid — one root listing finds any single cell dir to borrow
      // the schema from. A store with NO cell dirs at all gets an
      // explicit empty frame with the documented store schema: the old
      // fallback read(spark, path) over a parquet-less dir would throw
      // AnalysisException (unable to infer schema), not return empty
      // (ADVICE r8).
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).iterator
        .map(_.getPath).find(_.getName.startsWith(partitionCol + "="))
        .map(p0 => spark.read.option("basePath", path).parquet(p0.toString)
          .filter(lit(false)))
        .getOrElse(emptyStoreFrame(spark))
    }
  }

  /** The documented store row shape, as an explicitly-empty frame — the
    * degenerate directStore result for a store holding no cells (never
    * written, or emptied). Column types match what a written store reads
    * back as: the embedding column float (the corpus dtype) and the
    * partition column long (probeCells compares it against long bucket
    * ids; Hive dir-value inference would give int/long by content, and
    * both satisfy the same comparisons on a real store). */
  private def emptyStoreFrame(spark: SparkSession): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(partitionCol,
        org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The multi-probe cell set: the query's cell plus every ≤ maxFlips
    * bit-flip neighbor, enumerated combinatorially (Σ C(nPlanes, f)
    * values, not a 2^nPlanes sweep) so multi-probe stays cheap at any
    * plane count. */
  private def probedBuckets(qBucket: Long, nPlanes: Int, maxFlips: Int): Seq[Long] = {
    require(maxFlips <= nPlanes, s"maxFlips $maxFlips exceeds nPlanes $nPlanes")
    if (maxFlips <= 0) Seq(qBucket)
    else (0 to maxFlips).flatMap(f =>
      (0 until nPlanes).combinations(f).map(bits =>
        bits.foldLeft(qBucket)((b, i) => b ^ (1L << i))).toSeq)
  }

  private def probeCells(store: DataFrame, q: DataFrame, qBucket: Long,
      nPlanes: Int, maxFlips: Int, excludeId: Option[Long], k: Int): DataFrame = {
    val probed = probedBuckets(qBucket, nPlanes, maxFlips)
    val base = store.filter(col(partitionCol).isin(probed: _*))
    val scoped = excludeId.map(id => base.filter(col("vec_id") =!= id)).getOrElse(base)
    scoped
      .crossJoin(broadcast(q))
      .withColumn("cos_sim",
        V.cosineRatio(V.dot(col("embedding"), col("q_emb")), sqrt(V.norm2(col("embedding"))) * col("q_nrm")))
      .select(col("vec_id"), col("label"), col(partitionCol).as("bucket"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}
