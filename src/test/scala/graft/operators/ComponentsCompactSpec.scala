package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins [[ComponentsArtifact.compactComponentsArtifact]] and the GEN
  * generation-pointer machinery (round-10 verdict asks #1/#4 + ADVICE
  * r9): the artifact's full 100 TB maintenance runbook, exercised
  * END-TO-END in one loop —
  *
  *   build → append (equal to cold, flag down) → append past the
  *   cutoff (drift flag trips) → compact (new generation hash-equal to
  *   a fresh cold build over the corpus-of-record, flag reset) → keep
  *   appending on the new generation (equal to cold again).
  *
  * Plus the crash/GC contracts: a generation survives ONE compaction's
  * grace before being swept (a reader mid-scan of pre-flip-resolved
  * paths keeps intact directories), the cold build's `gen-0/` is
  * removed exactly at two-behind, and a partial `gen-<g+1>/` left by a
  * crashed prior compaction is cleared and rebuilt — it was never
  * resolvable, so clearing it is invisible.
  */
class ComponentsCompactSpec extends SparkSpec {
  import spark.implicits._

  // The ComponentsStagedSpec corpus: 16 docs share a 3-token prefix, so
  // its shingle sits AT the autoDfCutoff floor (df 16 = cutoff 16,
  // non-hot, zero headroom) — one more prefixed doc trips the drift
  // flag. 29/30 are a near-dup pair so cluster content is non-trivial.
  private def tail(seed: Int): String =
    (0 until 12).map(i => s"w${seed}_$i").mkString(" ")

  private def corpusDocs: DataFrame =
    ((1L to 30L).map { id =>
      val prefix = if (id <= 16L) "edge boiler plate " else ""
      val t = if (id == 30L) tail(29) + " extra" else tail(id.toInt)
      (id, prefix + t)
    }).toDF("doc_id", "text")

  private def readClusters(dir: String): Seq[(Long, Long)] =
    spark.read.parquet(ComponentsArtifact.clustersDirOf(dir))
      .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toSeq.sorted

  private def coldOf(docs: DataFrame): (Seq[(Long, Long)], Long) = {
    val dir = Files.createTempDirectory("comp-compact-cold").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, docs, dir)
      (readClusters(dir), ComponentsArtifact.readMeta(spark, dir).nPairs)
    } finally Dedup.rmdir(new java.io.File(dir))
  }

  test("end-to-end runbook: drift trips -> compact equals cold with the flag " +
      "reset -> appends continue on the new generation, still equal to cold") {
    val base = Files.createTempDirectory("comp-compact-e2e").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      // append 1 (fresh tails, plus a near-dup of corpus doc 5 so the
      // append contributes a real cross-boundary edge): flag stays down
      val inc1 = Seq((101L, tail(500)), (102L, tail(5) + " extra"))
        .toDF("doc_id", "text")
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc1)
      val docs1 = corpusDocs.unionByName(inc1)
      assert(!ComponentsArtifact.readMeta(spark, base).rebuildRecommended)
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(docs1))
      // append 2 carries the prefix: the df-16 shingle reaches 17 > 16
      val inc2 = Seq((103L, "edge boiler plate " + tail(600)))
        .toDF("doc_id", "text")
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc2)
      val docs2 = docs1.unionByName(inc2)
      assert(ComponentsArtifact.readMeta(spark, base).rebuildRecommended,
        "fixture: the cutoff-crossing append must trip the flag")

      // COMPACT on the corpus-of-record: one atomic GEN flip
      ComponentsArtifact.compactComponentsArtifact(spark, base, docs2)
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"))
      assert(ComponentsArtifact.currentEpoch(base) == 0L,
        "a fresh generation starts at epoch 0")
      val m = ComponentsArtifact.readMeta(spark, base)
      assert(!m.rebuildRecommended, s"compaction must reset the flag: $m")
      // the re-derived snapshot re-cut: the once-drifting shingle (df 17)
      // is now HOT, so the new drift floors reflect the NEW corpus
      assert(m.cutoff == 16L && m.minHotDf == 17L && m.nDocsTotal == 33L, s"$m")
      assert((readClusters(base), m.nPairs) == coldOf(docs2),
        "the compacted generation must hash-equal a fresh cold build")

      // appends CONTINUE on gen-1: epoch pointer fresh, torn-append
      // validation against gen-1's own index, equality to cold holds
      val inc3 = Seq((104L, tail(700)), (105L, tail(700) + " extra"))
        .toDF("doc_id", "text")
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc3)
      val docs3 = docs2.unionByName(inc3)
      assert(ComponentsArtifact.currentEpoch(base) == 1L)
      assert(ComponentsArtifact.clustersDirOf(base).contains("gen-1"))
      val m3 = ComponentsArtifact.readMeta(spark, base)
      assert(!m3.rebuildRecommended, s"fresh drift floor after compact: $m3")
      assert((readClusters(base), m3.nPairs) == coldOf(docs3))
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("file-fragmentation drift (direction c): semantically-quiet appends " +
      "trip the flag once a bucket dir crosses the file bound, and the " +
      "maintain compaction restores the layout and clears it") {
    val base = Files.createTempDirectory("comp-compact-frag").toString
    try {
      // drift-free corpus: no doc carries the cutoff-floor prefix, so
      // the semantic directions (a)/(b) stay quiet throughout and only
      // the file-count direction can trip
      val quiet = ((1L to 30L).map(id =>
        (id, if (id == 30L) tail(29) + " extra" else tail(id.toInt))))
        .toDF("doc_id", "text")
      ComponentsArtifact.buildComponentsArtifactFrom(spark, quiet, base)
      var corpus = quiet
      def appendOne(id: Long): Unit = {
        val inc = Seq((id, tail(5000 + id.toInt))).toDF("doc_id", "text")
        ComponentsArtifact.appendComponentsArtifact(spark, base, inc,
          maxFilesPerBucket = 3)
        corpus = corpus.unionByName(inc)
      }
      // build leaves 1 file per touched bucket; appends add one each.
      // bound 3: append #1 (pre-count 1, +1 = 2) and #2 (2+1 = 3) stay
      // quiet; append #3 sees pre-count 3, +1 = 4 > 3 and trips.
      appendOne(101L)
      assert(!ComponentsArtifact.readMeta(spark, base).rebuildRecommended,
        "first append must not trip the file-count direction")
      appendOne(102L)
      appendOne(103L)
      assert(ComponentsArtifact.readMeta(spark, base).rebuildRecommended,
        "crossing the per-bucket file bound must recommend a rebuild")
      // the runbook remedy: maintain compacts, the re-derived index is
      // back to one file per bucket, the flag clears, clusters = cold
      val inc = Seq((104L, tail(5104))).toDF("doc_id", "text")
      val newCorpus = corpus.unionByName(inc)
      val compacted = ComponentsArtifact.maintainComponentsArtifact(
        spark, base, inc, newCorpus, maxFilesPerBucket = 3)
      assert(compacted, "tripped flag must drive the maintain compaction")
      val m = ComponentsArtifact.readMeta(spark, base)
      assert(!m.rebuildRecommended, "compaction must clear the flag")
      val gen = ComponentsArtifact.genDirOf(base)
      val maxFiles = new java.io.File(s"$gen/shingles").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shb="))
        .map(_.listFiles().count(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith(".")))
        .foldLeft(0)(math.max)
      assert(maxFiles <= 1, s"compaction must restore one file per bucket, got $maxFiles")
      assert((readClusters(base), m.nPairs) == coldOf(newCorpus),
        "post-compaction artifact must equal a cold build")
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("generation GC is two-behind: gen-0's root layout survives the first " +
      "compaction intact (a mid-scan reader keeps reading), is swept at the " +
      "second, and each prior generation gets the same grace") {
    val base = Files.createTempDirectory("comp-compact-gc").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      // a reader that resolved its paths BEFORE any compaction — the
      // mid-scan scenario the two-behind grace exists for
      val readerPath = ComponentsArtifact.clustersDirOf(base)
      val readerSaw = spark.read.parquet(readerPath)
        .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
        .collect().toSeq.sorted

      ComponentsArtifact.compactComponentsArtifact(spark, base, corpusDocs)
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"))
      // gen-0 is ONE behind: fully intact, same content (no CURRENT
      // file here — a fresh cold build is epoch 0 by absence)
      for (n <- Seq("clusters_v0", "meta_v0", "shingles", "sizes", "hot"))
        assert(new java.io.File(base, s"gen-0/$n").exists,
          s"gen-0 dir $n must survive the first compaction")
      assert(spark.read.parquet(readerPath)
        .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
        .collect().toSeq.sorted == readerSaw,
        "a gen-0 mid-scan reader must survive the first flip unchanged")

      ComponentsArtifact.compactComponentsArtifact(spark, base, corpusDocs)
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-2"))
      // now gen-0 is two behind: its artifact dirs are swept...
      for (n <- Seq("clusters_v0", "meta_v0", "shingles", "sizes", "hot", "CURRENT"))
        assert(!new java.io.File(base, s"gen-0/$n").exists,
          s"gen-0 dir $n must be GC'd at two-behind")
      assert(!new java.io.File(base, "gen-0").exists, "gen-0 must be GC'd at two-behind")
      // ...while gen-1 (one behind) keeps its grace, and gen-2 is live
      assert(new java.io.File(base, "gen-1").isDirectory)
      assert(readClusters(base) == readerSaw)

      ComponentsArtifact.compactComponentsArtifact(spark, base, corpusDocs)
      assert(!new java.io.File(base, "gen-1").exists,
        "gen-1 must be swept once two behind")
      assert(new java.io.File(base, "gen-2").isDirectory)
      assert(new java.io.File(base, "gen-3").isDirectory)
      assert(readClusters(base) == readerSaw)
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("compaction on a hostile corpus-of-record (NULL/empty/sub-k texts " +
      "mixed with real near-dups) equals cold and keeps accepting appends") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    def frame(rows: Seq[(Long, String)]) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    val corpus = frame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, null), (4L, ""), (5L, " \t "), (6L, "xy"),
      (7L, "totally different text about other things entirely")))
    val base = Files.createTempDirectory("comp-compact-hostile").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpus, base)
      // an append first, so the compaction folds real epoch history
      val inc = frame(Seq((101L, "alpha beta gamma delta epsilon zeta eta"),
        (102L, null)))
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc)
      val docs = corpus.unionByName(inc)
      ComponentsArtifact.compactComponentsArtifact(spark, base, docs)
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"))
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(docs))
      val m = ComponentsArtifact.readMeta(spark, base)
      assert(m.nDocsTotal == 9L && !m.rebuildRecommended, s"got $m")
      // and the compacted generation keeps accepting hostile appends
      val inc2 = frame(Seq((201L, "novel words nothing shares"), (202L, "")))
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc2)
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(docs.unionByName(inc2)))
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("compaction validates the corpus-of-record BEFORE any write (round-10 " +
      "verdict ask #1): a short corpus and a same-count-different-docs swap " +
      "both throw with the gen dir absent and the pointer untouched") {
    val base = Files.createTempDirectory("comp-compact-guard").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      val inc = Seq((101L, tail(500)), (102L, tail(5) + " extra"))
        .toDF("doc_id", "text")
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc)
      val docs = corpusDocs.unionByName(inc)
      val live = readClusters(base)

      // (a) SHORT corpus: the cold build's docs without the appended
      // increment — the stale-corpus-of-record operator error
      val eShort = intercept[IllegalArgumentException] {
        ComponentsArtifact.compactComponentsArtifact(spark, base, corpusDocs)
      }
      assert(eShort.getMessage.contains("corpus-of-record mismatch") &&
        eShort.getMessage.contains("30") && eShort.getMessage.contains("32"),
        s"must name both counts: ${eShort.getMessage}")

      // (b) SAME COUNT, different docs: doc 102 swapped for an id the
      // artifact never saw — count passes, the xor receipt catches it
      val swapped = corpusDocs.unionByName(
        Seq((101L, tail(500)), (999L, tail(5) + " extra"))
          .toDF("doc_id", "text"))
      val eSwap = intercept[IllegalArgumentException] {
        ComponentsArtifact.compactComponentsArtifact(spark, base, swapped)
      }
      assert(eSwap.getMessage.contains("corpus-of-record mismatch"),
        eSwap.getMessage)

      // both rejections happened BEFORE any write: no gen dir, pointer
      // file absent (still generation 0), live clusters untouched
      assert(!new java.io.File(base, "gen-1").exists,
        "a rejected compaction must not leave a generation dir")
      assert(!new java.io.File(base, "GEN").exists &&
        ComponentsArtifact.genDirOf(base) == s"$base/gen-0",
        "a rejected compaction must not move the generation pointer")
      assert(readClusters(base) == live)

      // the correct corpus still compacts
      ComponentsArtifact.compactComponentsArtifact(spark, base, docs)
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"))
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(docs))
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("the receipt is collision-hard (round-11 verdict ask #1): a corpus " +
      "with EQUAL count and EQUAL raw-id xor is rejected, and so is the same " +
      "id set with one text altered — both before any write") {
    // ids {0,3} vs {1,2}: count 2 both, raw xor 3 both — the exact
    // constructible collision the idx4 bit_xor(doc_id) receipt accepted
    val docsA = Seq((0L, tail(10)), (3L, tail(11))).toDF("doc_id", "text")
    val docsB = Seq((1L, tail(10)), (2L, tail(11))).toDF("doc_id", "text")
    val base = Files.createTempDirectory("comp-receipt-collide").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, docsA, base)
      val eSwap = intercept[IllegalArgumentException] {
        ComponentsArtifact.compactComponentsArtifact(spark, base, docsB)
      }
      assert(eSwap.getMessage.contains("corpus-of-record mismatch"),
        eSwap.getMessage)
      // same ids, one text altered: the raw-id receipt was text-blind
      val altered = Seq((0L, tail(10)), (3L, tail(11) + " tampered"))
        .toDF("doc_id", "text")
      val eText = intercept[IllegalArgumentException] {
        ComponentsArtifact.compactComponentsArtifact(spark, base, altered)
      }
      assert(eText.getMessage.contains("corpus-of-record mismatch") &&
        eText.getMessage.contains("altered text"), eText.getMessage)
      // both rejected BEFORE any write; the true corpus still compacts
      assert(!new java.io.File(base, "GEN").exists &&
        !new java.io.File(base, "gen-1").exists)
      ComponentsArtifact.compactComponentsArtifact(spark, base, docsA)
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"))
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("bucket count is a per-artifact property (round-11 verdict ask #2): a " +
      "32-bucket artifact appends and compacts correctly under the 64-bucket " +
      "default build, pair counts matching the default layout exactly") {
    val base32 = Files.createTempDirectory("comp-b32").toString
    val base64 = Files.createTempDirectory("comp-b64").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base32, 32)
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base64)
      assert(ComponentsArtifact.readMeta(spark, base32).nBuckets == 32)
      assert(ComponentsArtifact.readMeta(spark, base64).nBuckets == 64)
      // the 32-bucket index really is pmod-32 at rest: every shb
      // partition dir stays under 32
      val shbDirs = new java.io.File(ComponentsArtifact.genDirOf(base32), "shingles")
        .listFiles()
        .filter(_.getName.startsWith("shb=")).map(_.getName.stripPrefix("shb=").toInt)
      assert(shbDirs.nonEmpty && shbDirs.max < 32, shbDirs.toSeq.sorted.mkString(","))
      // the bench hook's pair term prunes with the ARTIFACT'S pmod
      // (ADVICE r11): identical counts across layouts, no silent miss
      val inc = Seq((101L, tail(5) + " extra"), (102L, tail(500)))
        .toDF("doc_id", "text")
      val n32 = ComponentsArtifact.appendPairTermOnly(spark, base32, inc)
      val n64 = ComponentsArtifact.appendPairTermOnly(spark, base64, inc)
      assert(n32 == n64 && n32 > 0, s"pair counts diverge: $n32 vs $n64")
      // full append under the default build: clusters equal cold, the
      // artifact keeps its own bucket count
      ComponentsArtifact.appendComponentsArtifact(spark, base32, inc)
      val docs1 = corpusDocs.unionByName(inc)
      assert((readClusters(base32), ComponentsArtifact.readMeta(spark, base32).nPairs)
        == coldOf(docs1))
      assert(ComponentsArtifact.readMeta(spark, base32).nBuckets == 32,
        "an append must preserve the artifact's own bucket count")
      // compaction preserves the count by default...
      ComponentsArtifact.compactComponentsArtifact(spark, base32, docs1)
      assert(ComponentsArtifact.readMeta(spark, base32).nBuckets == 32)
      assert((readClusters(base32), ComponentsArtifact.readMeta(spark, base32).nPairs)
        == coldOf(docs1))
      // ...and is the explicit re-bucket point (grow with the corpus)
      ComponentsArtifact.compactComponentsArtifact(spark, base32, docs1, nBuckets = 64)
      assert(ComponentsArtifact.readMeta(spark, base32).nBuckets == 64)
      assert((readClusters(base32), ComponentsArtifact.readMeta(spark, base32).nPairs)
        == coldOf(docs1))
      // appends continue on the re-bucketed generation
      val inc2 = Seq((103L, tail(700))).toDF("doc_id", "text")
      ComponentsArtifact.appendComponentsArtifact(spark, base32, inc2)
      assert((readClusters(base32), ComponentsArtifact.readMeta(spark, base32).nPairs)
        == coldOf(docs1.unionByName(inc2)))
    } finally {
      Dedup.rmdir(new java.io.File(base32))
      Dedup.rmdir(new java.io.File(base64))
    }
  }

  test("a meta missing any required field (each in turn) is refused by " +
      "readMeta, append, appendPairTermOnly and compaction with the rebuild " +
      "message, and no file is written") {
    val base = Files.createTempDirectory("comp-meta-fields").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      val metaDir = ComponentsArtifact.metaDirOf(base)
      val written = spark.read.parquet(metaDir)
      val fields = written.columns.toSeq
      assert(fields.size == 15 && fields.contains("receipt_kind") &&
        fields.contains("n_buckets") && fields.contains("sh_files"), s"$fields")
      val writtenRows = written.collect()
      def rewrite(meta: DataFrame): Unit = {
        val rows = meta.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), meta.schema)
          .coalesce(1).write.mode("overwrite").parquet(metaDir)
      }
      def original =
        spark.createDataFrame(java.util.Arrays.asList(writtenRows: _*), written.schema)
      def tree(): Seq[(String, Long)] = {
        import scala.jdk.CollectionConverters._
        val root = java.nio.file.Paths.get(base)
        Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => (root.relativize(p).toString, Files.size(p))).toSeq.sorted
      }
      val inc = Seq((101L, tail(500))).toDF("doc_id", "text")
      // every field dropped in turn, plus a receipt of another kind
      val forged = fields.map(f => f -> original.drop(f)) :+
        ("receipt_kind=none" -> original.withColumn("receipt_kind", lit("none")))
      for ((what, meta) <- forged) {
        rewrite(meta)
        val before = tree()
        val ops = Seq[(String, () => Any)](
          "readMeta" -> (() => ComponentsArtifact.readMeta(spark, base)),
          "append" -> (() => ComponentsArtifact.appendComponentsArtifact(spark, base, inc)),
          "appendPairTermOnly" -> (() =>
            ComponentsArtifact.appendPairTermOnly(spark, base, inc)),
          "compact" -> (() =>
            ComponentsArtifact.compactComponentsArtifact(spark, base, corpusDocs)))
        for ((op, run) <- ops) {
          val e = intercept[IllegalArgumentException](run())
          assert(e.getMessage.contains("rebuild the artifact") &&
            e.getMessage.contains(what.takeWhile(_ != '=')),
            s"$op on a meta without $what: ${e.getMessage}")
        }
        assert(tree() == before, s"a refused meta without $what must write nothing")
      }
      // the true meta restored, the artifact reads and appends again
      rewrite(original)
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc)
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(corpusDocs.unionByName(inc)))
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("maintainComponentsArtifact: a sequence of appends crossing the drift " +
      "boundary auto-compacts exactly once, hash-equal to cold at every step " +
      "(round-10 verdict ask #4)") {
    val base = Files.createTempDirectory("comp-maintain").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      // step 1: below the cutoff — append only, no compaction
      val inc1 = Seq((101L, tail(500)), (102L, tail(5) + " extra"))
        .toDF("doc_id", "text")
      val docs1 = corpusDocs.unionByName(inc1)
      assert(!ComponentsArtifact.maintainComponentsArtifact(spark, base, inc1, docs1),
        "no drift -> no compaction")
      assert(ComponentsArtifact.genDirOf(base) == s"$base/gen-0", "still generation 0")
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(docs1))
      // step 2: the prefix doc pushes the df-16 shingle over the cutoff
      // — the operator must compact, with the corpus-of-record
      // validation covering the just-appended increment
      val inc2 = Seq((103L, "edge boiler plate " + tail(600)))
        .toDF("doc_id", "text")
      val docs2 = docs1.unionByName(inc2)
      // the runbook carries the compaction's re-bucket choice (the
      // drift-triggered rebuild is where a grown corpus re-buckets)
      assert(ComponentsArtifact.maintainComponentsArtifact(spark, base, inc2, docs2,
          compactNBuckets = 32),
        "drift -> exactly this call compacts")
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"),
        "one compaction, one generation flip")
      val m2 = ComponentsArtifact.readMeta(spark, base)
      assert(!m2.rebuildRecommended, s"compaction resets the flag: $m2")
      assert(m2.nBuckets == 32,
        s"the re-bucket choice must reach the compaction: $m2")
      assert((readClusters(base), m2.nPairs) == coldOf(docs2))
      // step 3: post-compaction appends stay append-only again
      val inc3 = Seq((104L, tail(700)), (105L, tail(700) + " extra"))
        .toDF("doc_id", "text")
      val docs3 = docs2.unionByName(inc3)
      assert(!ComponentsArtifact.maintainComponentsArtifact(spark, base, inc3, docs3))
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"),
        "exactly once: no second generation")
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(docs3))
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("a partial gen-<g+1> from a crashed prior compaction is cleared and " +
      "rebuilt; it was never resolvable so the live artifact never wavered") {
    val base = Files.createTempDirectory("comp-compact-crash").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      val live = readClusters(base)
      // plant the crash debris: a half-written gen-1 (clusters dir with
      // a garbage file, no meta, no index) — the GEN pointer still
      // names generation 0, so nothing resolves it
      val partial = new java.io.File(base, "gen-1/clusters")
      partial.mkdirs()
      java.nio.file.Files.write(new java.io.File(partial, "part-garbage.parquet")
        .toPath, Array.fill[Byte](16)(0x5a))
      assert(readClusters(base) == live,
        "the planted partial generation must be invisible to readers")
      ComponentsArtifact.compactComponentsArtifact(spark, base, corpusDocs)
      assert(ComponentsArtifact.genDirOf(base).endsWith("gen-1"))
      assert((readClusters(base), ComponentsArtifact.readMeta(spark, base).nPairs)
        == coldOf(corpusDocs),
        "the rebuilt generation must equal a fresh cold build")
      // and the artifact keeps accepting appends after the recovery
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        Seq((201L, tail(800))).toDF("doc_id", "text"))
      assert(ComponentsArtifact.currentEpoch(base) == 1L)
    } finally Dedup.rmdir(new java.io.File(base))
  }
}
