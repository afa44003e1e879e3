package graft.operators

import java.io.File
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the replay fence of [[FsPointers.foldVersion]], the one
  * `b<batchId>` + `_CURRENT` fold under AggState.maintainParquet,
  * stream_kmv and stream_heavy_hitters: foreachBatch re-delivers a
  * batch whose run crashed after the pointer swap but before the
  * checkpoint commit, and that replay must neither fold again nor
  * rewrite the committed snapshot it would be reading. */
class VersionedFoldSpec extends SparkSpec {

  test("a replay of the committed batchId neither re-folds nor rewrites " +
      "the committed snapshot; an older batchId is fenced too") {
    val root = java.nio.file.Files.createTempDirectory("versioned_fold")
      .toString + "/state"
    var calls = 0
    def fold(batchId: Long): Boolean =
      FsPointers.foldVersion(spark, root, batchId) { (committed, out) =>
        calls += 1
        val delta = spark.range(10).select((col("id") + batchId * 10).as("v"))
        committed.fold(delta)(_.unionByName(delta))
          .write.mode(SaveMode.Overwrite).parquet(out)
      }
    def files(dir: String): Seq[(String, Long)] =
      new File(root, dir).listFiles().toSeq.map(f => (f.getName, f.length)).sorted
    def rows(): Long = spark.read.parquet(FsPointers.currentVersion(root).get).count()
    try {
      assert(fold(0L) && fold(1L))
      assert(calls == 2 && rows() == 20)
      val before = files("b1")
      // the replay of batch 1: skipped, the write never runs, and b1 —
      // whose part files carry a fresh job id on any rewrite — is the
      // same set of files
      assert(!fold(1L), "a replayed batchId must report no fold")
      assert(calls == 2, "a replayed batchId must not re-fold")
      assert(files("b1") == before, "the committed snapshot was rewritten")
      assert(FsPointers.read(root, "_CURRENT").contains("b1"))
      assert(rows() == 20)
      assert(!fold(0L) && calls == 2, "an older batchId must be fenced too")
      // the next batch folds, and the prune keeps it and its predecessor
      assert(fold(2L) && calls == 3 && rows() == 30)
      assert(new File(root).listFiles().filter(_.isDirectory).map(_.getName)
        .toSet == Set("b1", "b2"))
    } finally Dedup.rmdir(new File(root).getParentFile)
  }
}
