package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions.{broadcast, col, sqrt}
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.{SparkSpec, Tables}
import graft.functions.{VectorFunctions => V}

/** The IVF layout: cell-partitioned store, probes prune to the probed
  * cells' directories, results agree with the in-memory LSH operators. */
class EmbeddingStoreSpec extends SparkSpec {

  private lazy val embs = Tables.embeddings(spark, sf("sf0.001"))

  private def scannedPartitions(df: org.apache.spark.sql.DataFrame): Int = {
    val scan = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }.head
    scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
  }

  /** The vector probe from first principles over a FULL store read: the
    * query's cell and its ≤ maxFlips-bit neighbours, each row scored
    * with the probe's own cosine expression — what the direct read of
    * only the probed cell dirs must match. */
  private def scanProbe(dir: String, q: Array[Double], k: Int,
      maxFlips: Int): Seq[Seq[Any]] = {
    import spark.implicits._
    val qBucket = graft.expressions.ArrayExprs.lshBands(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(q), 4, 1).getLong(0)
    val probed = (0 to maxFlips).flatMap(f => (0 until 4).combinations(f)
      .map(_.foldLeft(qBucket)((b, i) => b ^ (1L << i))))
    val qDf = Seq((q.toSeq, math.sqrt(q.map(x => x * x).sum))).toDF("q_emb", "q_nrm")
    EmbeddingStore.read(spark, dir)
      .filter(col(EmbeddingStore.partitionCol).isin(probed: _*))
      .crossJoin(broadcast(qDf))
      .select(col("vec_id"), col("label"), col(EmbeddingStore.partitionCol).as("bucket"),
        V.cosineRatio(V.dot(col("embedding"), col("q_emb")),
          sqrt(V.norm2(col("embedding"))) * col("q_nrm")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id")).limit(k)
      .collect().map(_.toSeq).toSeq
  }

  test("bucket-partitioned store: probe scans one cell, matches lshKnn") {
    val dir = Files.createTempDirectory("embstore").toString
    EmbeddingStore.write(embs, dir, nPlanes = 4)
    val store = EmbeddingStore.read(spark, dir)
    val totalCells = store.select(EmbeddingStore.partitionCol).distinct().count().toInt
    assert(totalCells > 1)
    assert(store.count() == embs.count())

    val probe = EmbeddingStore.knnProbe(spark, dir, queryId = 0L, k = 10, nPlanes = 4)
    assert(scannedPartitions(probe) == 1, "single-cell probe must scan one directory")
    // same candidates, same ordering as the in-memory operator
    val inMem = Similarity.lshKnn(embs, 0L, 10, 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    val fromStore = probe.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    assert(fromStore == inMem)

    val multi = EmbeddingStore.knnProbe(spark, dir, 0L, 10, nPlanes = 4, maxFlips = 1)
    val scanned = scannedPartitions(multi)
    assert(scanned > 1 && scanned <= 5, s"1-flip probe scans <= nPlanes+1 cells, got $scanned")
    assert(scanned < totalCells, "multi-probe still prunes")

    // arbitrary-vector probe: querying with vec 0's own embedding finds the
    // same neighbors (plus itself, bucketed identically) in one pruned cell
    val qVec = embs.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    val byVec = EmbeddingStore.knnProbeVector(spark, dir, qVec, k = 11, nPlanes = 4)
    assert(scannedPartitions(byVec) == 1)
    val got = byVec.collect().map(_.getAs[Long]("vec_id"))
    assert(got.contains(0L), "the identical stored vector is its own top hit")
    val inMemIds = Similarity.lshKnn(embs, 0L, 10, 4).collect().map(_.getAs[Long]("vec_id"))
    assert(got.filterNot(_ == 0L).take(inMemIds.length).toSeq == inMemIds.toSeq)
  }

  test("directRead probe: identical output, opens only probed cell dirs") {
    val dir = Files.createTempDirectory("embstore-direct").toString
    EmbeddingStore.write(embs, dir, nPlanes = 4)
    val qVec = embs.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0).toArray
    // the pruned read must be row- and value-identical to a full store
    // scan at every flip count, including flips where some neighbor
    // cells have no directory (skipped driver-side, which is exactly
    // what the partition filter does to them under a full scan)
    for (flips <- Seq(0, 1, 2)) {
      val direct = EmbeddingStore.knnProbeVector(spark, dir, qVec,
        k = 11, nPlanes = 4, maxFlips = flips)
      assert(direct.collect().map(_.toSeq).toSeq ==
        scanProbe(dir, qVec, k = 11, maxFlips = flips),
        s"pruned read diverged from the full scan at maxFlips=$flips")
      // the scan's file index must hold at most the probed cell count —
      // the read never discovers the rest of the store
      val scan = direct.queryExecution.sparkPlan
        .collect { case f: FileSourceScanExec => f }.head
      val rootDirs = scan.relation.location.rootPaths.length
      val probedCount = Map(0 -> 1, 1 -> 5, 2 -> 11)(flips) // Σ C(4, ≤f)
      assert(rootDirs <= probedCount,
        s"direct read must root at ≤$probedCount probed cells, got $rootDirs")
    }
    // a query vector landing in a cell with no directory and no existing
    // neighbors: empty result, correct schema, no exception
    val farQ = Array.fill(64)(0.0)
    val empty = EmbeddingStore.knnProbeVector(spark, dir, farQ,
      k = 5, nPlanes = 4, maxFlips = 0)
    assert(empty.collect().map(_.toSeq).toSeq ==
      scanProbe(dir, farQ, k = 5, maxFlips = 0),
      "missing-cell probe must agree with the full scan (possibly empty)")
  }

  test("append routes to existing cells; recluster compacts without changing probes") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("embstore-incr").toString
    // reference: the whole corpus written at once
    val full = Files.createTempDirectory("embstore-full").toString
    EmbeddingStore.write(embs, full, nPlanes = 4)
    val want = EmbeddingStore.knnProbe(spark, full, 0L, 10, nPlanes = 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq

    // incremental: base 60% then four appended slices of 10% each
    EmbeddingStore.write(embs.filter(col("vec_id") % 10 < 6), dir, nPlanes = 4)
    (6 to 9).foreach(m =>
      EmbeddingStore.append(embs.filter(col("vec_id") % 10 === m), dir, nPlanes = 4))
    val store = EmbeddingStore.read(spark, dir)
    assert(store.count() == embs.count())
    // appended vectors landed in the SAME cell the one-shot write chooses
    val cells = store.select(col("vec_id"), col(EmbeddingStore.partitionCol).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullCells = EmbeddingStore.read(spark, full)
      .select(col("vec_id"), col(EmbeddingStore.partitionCol).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == fullCells, "append must route to the one-shot cell assignment")
    val gotIncr = EmbeddingStore.knnProbe(spark, dir, 0L, 10, nPlanes = 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    assert(gotIncr == want, "probe over the incremental store must match the one-shot store")

    // drift: appends fragmented the cells; recluster compacts them in place
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    def cellFiles: Map[String, Int] = fs.listStatus(new Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(EmbeddingStore.partitionCol + "="))
      .map(s => s.getPath.getName -> fs.listStatus(s.getPath).count(f =>
        f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")))
      .toMap
    val before = cellFiles
    assert(before.values.exists(_ > 2), s"appends should fragment cells, got $before")
    val done = EmbeddingStore.recluster(spark, dir, maxFilesPerCell = 2)
    assert(done.nonEmpty, "fragmented cells must be reclustered")
    val after = cellFiles
    assert(done.forall(c => after(s"${EmbeddingStore.partitionCol}=$c") == 1),
      s"reclustered cells must compact to one file: $after")
    assert(before.filter(_._2 <= 2).forall { case (c, n) => after(c) == n },
      "cells within bound must be untouched")
    // identical rows, identical probe, pruning intact
    val probeAfter = EmbeddingStore.knnProbe(spark, dir, 0L, 10, nPlanes = 4)
    assert(scannedPartitions(probeAfter) == 1)
    val gotAfter = probeAfter.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    assert(gotAfter == want, "recluster must not change probe results")
    assert(EmbeddingStore.read(spark, dir).count() == embs.count())
    // second recluster is a no-op (cost scales with drift, not store size)
    assert(EmbeddingStore.recluster(spark, dir, maxFilesPerCell = 2).isEmpty)
  }

  test("directRead against a store with no cell directories returns the " +
      "documented empty frame instead of throwing") {
    val dir = Files.createTempDirectory("embstore-empty").toString
    // a root with no cell dirs at all (never written / emptied)
    val out = EmbeddingStore.knnProbeVector(spark, dir,
      Array.tabulate(8)(_.toDouble), k = 5, nPlanes = 4)
    assert(out.columns.toSeq ==
      Seq("vec_id", "label", "bucket", "cos_sim"))
    assert(out.count() == 0L)
  }

  test("recluster recovers a cell from a crash between the two swap renames") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("embstore-crash").toString
    EmbeddingStore.write(embs, dir, nPlanes = 4)
    val want = EmbeddingStore.knnProbe(spark, dir, 0L, 10, nPlanes = 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val cells = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.startsWith(EmbeddingStore.partitionCol + "="))
    assert(cells.nonEmpty)
    // simulate the worst crash window: live dir archived, replacement
    // never renamed in — the archive is the only copy of the cell
    val victim = cells.head.getPath
    val archive = new Path(new Path(dir), s".old_${victim.getName}")
    assert(fs.rename(victim, archive))
    assert(!fs.exists(victim))
    // any recluster invocation repairs the store before compacting
    EmbeddingStore.recluster(spark, dir, maxFilesPerCell = 1000)
    assert(fs.exists(victim) && !fs.exists(archive), "archived cell must be restored")
    val after = EmbeddingStore.knnProbe(spark, dir, 0L, 10, nPlanes = 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    assert(after == want, "recovered store must probe identically")
    // the other crash window: swap completed but archive not yet deleted —
    // the leftover archive is dropped, live data untouched
    val done = cells.last.getPath
    fs.mkdirs(new Path(new Path(dir), s".old_${done.getName}"))
    EmbeddingStore.recluster(spark, dir, maxFilesPerCell = 1000)
    assert(fs.exists(done) && !fs.exists(new Path(new Path(dir), s".old_${done.getName}")))
  }
}
