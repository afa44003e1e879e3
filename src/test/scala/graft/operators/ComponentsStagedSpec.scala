package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the round-9 maintenance contracts of the components artifact:
  *
  *  - HOT-SET DRIFT (ask #2): `appendComponentsArtifact` keeps a
  *    running max of the non-hot shingle document frequencies it
  *    touches and trips meta's `rebuild_recommended` exactly when an
  *    increment pushes one over the snapshot cutoff — below the
  *    cutoff the flag stays false and append remains hash-equal to a
  *    cold union rebuild.
  *  - STAGED PUBLICATION (ask #6 + ADVICE r8): appends publish a new
  *    clusters/meta epoch via one atomic pointer replace; the
  *    previous epoch's dirs survive one full append (a concurrent
  *    reader never sees a partial or vanished state), older epochs
  *    are GC'd.
  *  - TORN-APPEND DETECTION (ADVICE r8): an index inconsistent with
  *    meta's accounting (the signature of a crash between a prior
  *    append's index appends and its pointer flip) fails the next
  *    append loudly instead of silently corrupting later pair sets.
  */
class ComponentsStagedSpec extends SparkSpec {
  import spark.implicits._

  // Corpus tuned to the autoDfCutoff floor (max(16, 0.4%·n) = 16 for
  // small corpora): 16 docs share a 3-token prefix, so its shingle has
  // df = 16 — AT the cutoff, hence NON-hot (hot is df > cutoff) with
  // zero headroom. Unique 12-token tails keep every other shingle rare.
  private def tail(seed: Int): String =
    (0 until 12).map(i => s"w${seed}_$i").mkString(" ")

  private def corpusDocs: DataFrame =
    ((1L to 30L).map { id =>
      val prefix = if (id <= 16L) "edge boiler plate " else ""
      // 29/30 are a near-dup pair so the base cluster table is non-empty
      // (the staged-publication case compares real content across epochs)
      val t = if (id == 30L) tail(29) + " extra" else tail(id.toInt)
      (id, prefix + t)
    }).toDF("doc_id", "text")

  private def buildBase(): String = {
    val base = Files.createTempDirectory("comp-staged").toString
    ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
    base
  }

  private def readClusters(dir: String): Seq[(Long, Long)] =
    spark.read.parquet(ComponentsArtifact.clustersDirOf(dir))
      .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toSeq.sorted

  test("drift flag: below-cutoff increment stays equal to cold and unflagged; " +
      "a cutoff-crossing increment trips rebuild_recommended") {
    val base = buildBase()
    val cold = Files.createTempDirectory("comp-staged-cold").toString
    try {
      val m0 = ComponentsArtifact.readMeta(spark, base)
      assert(m0.cutoff == 16L, s"fixture: cutoff must be the floor, got $m0")
      assert(m0.maxNonhotDf == 16L,
        s"fixture: the prefix shingle must sit AT the cutoff, got $m0")
      assert(!m0.rebuildRecommended)

      // append 1: no prefix, all-fresh tails — nothing approaches the
      // cutoff; equality to the cold union build must hold and the
      // flag must stay down (the running max keeps the build-time 16)
      val incBelow = Seq((101L, tail(500)), (102L, tail(500) + " extra"))
        .toDF("doc_id", "text")
      ComponentsArtifact.appendComponentsArtifact(spark, base, incBelow)
      val m1 = ComponentsArtifact.readMeta(spark, base)
      assert(m1.maxNonhotDf == 16L && !m1.rebuildRecommended, s"got $m1")
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpusDocs.unionByName(incBelow), cold)
      assert(readClusters(base) == readClusters(cold))

      // append 2: one more doc carrying the prefix — the df-16 shingle
      // reaches 17 > cutoff, exactly the condition under which a cold
      // rebuild would have CUT it; the flag must trip
      val incCross = Seq((103L, "edge boiler plate " + tail(600)))
        .toDF("doc_id", "text")
      ComponentsArtifact.appendComponentsArtifact(spark, base, incCross)
      val m2 = ComponentsArtifact.readMeta(spark, base)
      assert(m2.maxNonhotDf == 17L && m2.rebuildRecommended,
        s"crossing the cutoff must trip the flag: $m2")
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("staged publication: the previous epoch survives one append intact, " +
      "older epochs are GC'd, the pointer flip is the only mutation") {
    val base = buildBase()
    try {
      val inc = (n: Long) => Seq((100L + n, tail(700 + n.toInt)))
        .toDF("doc_id", "text")
      val gen = ComponentsArtifact.genDirOf(base)
      val v0Clusters = new java.io.File(gen, "clusters_v0")
      val v0Content = readClusters(base)
      assert(ComponentsArtifact.currentEpoch(base) == 0L)

      ComponentsArtifact.appendComponentsArtifact(spark, base, inc(1))
      assert(ComponentsArtifact.currentEpoch(base) == 1L)
      assert(ComponentsArtifact.clustersDirOf(base).endsWith("clusters_v1"))
      // the epoch-0 dirs a concurrent reader may be mid-scan of are
      // intact — same files, same content
      assert(v0Clusters.isDirectory,
        "previous epoch must survive the append that replaced it")
      assert(spark.read.parquet(v0Clusters.getPath)
        .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
        .collect().toSeq.sorted == v0Content)

      ComponentsArtifact.appendComponentsArtifact(spark, base, inc(2))
      assert(ComponentsArtifact.currentEpoch(base) == 2L)
      // now epoch 0 has had a full append's grace and is GC'd; epoch 1
      // (the new previous) survives
      assert(!v0Clusters.exists, "epoch two behind the pointer must be GC'd")
      assert(!new java.io.File(gen, "meta_v0").exists)
      assert(new java.io.File(gen, "clusters_v1").isDirectory)

      ComponentsArtifact.appendComponentsArtifact(spark, base, inc(3))
      assert(!new java.io.File(gen, "clusters_v1").exists)
      assert(new java.io.File(gen, "clusters_v2").isDirectory)
      assert(new java.io.File(gen, "clusters_v3").isDirectory)
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("bucketed layout (_idx6): the shingle index is partitioned by shb and a " +
      "bucket filter prunes partitions at the source (the append's scan-term remedy)") {
    val base = buildBase()
    try {
      // the physical layout: shb=N partition dirs, no root-level files
      val gen = ComponentsArtifact.genDirOf(base)
      val names = Option(new java.io.File(gen, "shingles").listFiles())
        .toSeq.flatten.map(_.getName)
      assert(names.exists(_.startsWith("shb=")), s"got $names")
      assert(!names.exists(_.endsWith(".parquet")),
        s"data files must live under shb= dirs, got $names")
      // a bucket predicate must land in PartitionFilters — directory
      // pruning, not row filtering after a full scan
      val plan = spark.read.parquet(s"$gen/shingles")
        .filter(col("shb").isin(1, 2, 3))
        .queryExecution.executedPlan.toString
      val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      assert(pf.exists(_.contains("shb")),
        s"bucket filter must prune partitions, plan:\n$plan")
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("reverse drift (ADVICE r9): a grown corpus whose recomputed cutoff " +
      "reaches the snapshot's least-frequent hot shingle trips " +
      "rebuild_recommended even though no touched shingle crosses the cutoff") {
    // One 3-token text = exactly one shingle per doc. 25 docs share a
    // hot phrase (df 25); 5000 docs put the build cutoff at
    // max(16, 0.4%·5000) = 20, so hot = {df 25} and minHotDf = 25.
    // Appends of all-unique docs never move the FORWARD running max
    // (every touched df_total is 1) — only the recomputed cutoff grows.
    def uniq(id: Long) = (id, s"u${id}_a u${id}_b u${id}_c")
    val corpus = ((1L to 5000L).map { id =>
      if (id <= 25L) (id, "hot alpha beta") else uniq(id)
    }).toDF("doc_id", "text")
    val base = Files.createTempDirectory("comp-revdrift").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpus, base)
      val m0 = ComponentsArtifact.readMeta(spark, base)
      assert(m0.cutoff == 20L && m0.minHotDf == 25L && m0.nDocsTotal == 5000L &&
        !m0.rebuildRecommended, s"fixture: $m0")
      // +200 docs: recomputed cutoff = ⌊0.4%·5200⌋ = 20 < 25 — no trip
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        ((10001L to 10200L).map(uniq)).toDF("doc_id", "text"))
      val m1 = ComponentsArtifact.readMeta(spark, base)
      assert(m1.nDocsTotal == 5200L && !m1.rebuildRecommended, s"got $m1")
      // +1100 docs: recomputed cutoff = ⌊0.4%·6300⌋ = 25 ≥ minHotDf 25 —
      // a cold rebuild over the grown corpus could now DECLASSIFY the
      // df-25 shingle (and surface candidates the fixed cut set never
      // will); the flag must trip although the forward max never moved
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        ((20001L to 21100L).map(uniq)).toDF("doc_id", "text"))
      val m2 = ComponentsArtifact.readMeta(spark, base)
      assert(m2.maxNonhotDf <= m2.cutoff,
        s"fixture regression: the forward check must not be what fires: $m2")
      assert(m2.rebuildRecommended, s"grown cutoff must trip the flag: $m2")
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("torn append fails loudly: index rows beyond meta's accounting " +
      "(crash-between-append-and-flip signature) block further appends") {
    val base = buildBase()
    try {
      // simulate the crash window: an increment's shingle rows landed in
      // the index but no pointer flip recorded them (meta unchanged) —
      // written in the real append's bucketed shape (the ShingleBuckets
      // reference keeps the fixture's pmod in lockstep with the layout;
      // a hardcoded 64 would silently write a shape the real append
      // never produces if the constant moved — ADVICE r10)
      Dedup.shingleIndex(Seq((999L, tail(900))).toDF("doc_id", "text"), 3)
        .withColumn("shb",
          pmod(col("sh"), lit(ComponentsArtifact.ShingleBuckets.toLong)).cast("int"))
        .write.mode("append").partitionBy("shb")
        .parquet(s"${ComponentsArtifact.genDirOf(base)}/shingles")
      val e = intercept[IllegalArgumentException] {
        ComponentsArtifact.appendComponentsArtifact(spark, base,
          Seq((104L, tail(901))).toDF("doc_id", "text"))
      }
      assert(e.getMessage.contains("torn append"), e.getMessage)
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("the artifact lifecycle works through a scheme-qualified (file:) " +
      "dir — pointers, GC and fragmentation listing ride the Hadoop FS " +
      "API, not java.io.File (the hdfs://-readiness pin)") {
    val local = Files.createTempDirectory("comp-scheme").toString
    val base = s"file:$local"
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      assert(ComponentsArtifact.currentEpoch(base) == 0L)
      // staged append: epoch pointer advances, clusters resolve, the
      // torn-check manifest validates through the FS API
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        Seq((301L, tail(29) + " extra3")).toDF("doc_id", "text"))
      assert(ComponentsArtifact.currentEpoch(base) == 1L)
      assert(readClusters(base).map(_._1).toSet.contains(301L))
      // generation flip: compaction publishes gen-1 via the GEN pointer
      // and GCs nothing yet (grace); a second append continues on gen-1
      val docs1 = corpusDocs.unionByName(
        Seq((301L, tail(29) + " extra3")).toDF("doc_id", "text"))
      ComponentsArtifact.compactComponentsArtifact(spark, base, docs1)
      assert(ComponentsArtifact.currentEpoch(base) == 0L,
        "fresh generation restarts epochs")
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        Seq((302L, tail(29) + " extra4")).toDF("doc_id", "text"))
      assert(ComponentsArtifact.currentEpoch(base) == 1L)
      val ids = readClusters(base).map(_._1).toSet
      assert(ids.contains(301L) && ids.contains(302L), s"$ids")
      // the scheme-qualified dir really was the one written
      assert(new java.io.File(local, "GEN").exists(),
        "GEN pointer must land under the local path the file: URI names")
    } finally Dedup.rmdir(new java.io.File(local))
  }

  /** Spec-side manifest: data-file count + bytes under `dir`, one
    * partition level deep, underscore/dot entries invisible — the same
    * rule StoreManifest applies, derived independently so the meta's
    * recorded manifest is checked against reality, not against the
    * code that wrote it. */
  private def listManifest(dir: String): (Long, Long) = {
    def visible(f: java.io.File) =
      !f.getName.startsWith("_") && !f.getName.startsWith(".")
    val top = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(visible)
    val files = top.filter(_.isFile) ++
      top.filter(_.isDirectory).flatMap(d =>
        Option(d.listFiles()).toSeq.flatten.filter(f => f.isFile && visible(f)))
    (files.length.toLong, files.map(_.length()).sum)
  }

  test("listing manifest: build and every append record the index dirs' " +
      "true (file count, bytes) in meta, in the generation's own dirs") {
    val base = buildBase()
    try {
      val gen = ComponentsArtifact.genDirOf(base)
      assert(gen == s"$base/gen-0", gen)
      // build-time manifest matches an independent listing
      val m0 = ComponentsArtifact.readMeta(spark, base)
      assert((m0.shFiles, m0.shBytes) == listManifest(s"$gen/shingles"), s"$m0")
      assert((m0.szFiles, m0.szBytes) == listManifest(s"$gen/sizes"), s"$m0")
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        Seq((201L, tail(29) + " extra2")).toDF("doc_id", "text"))
      val m1 = ComponentsArtifact.readMeta(spark, base)
      assert((m1.shFiles, m1.shBytes) == listManifest(s"$gen/shingles"),
        s"the append must record the true manifest: $m1")
      assert((m1.szFiles, m1.szBytes) == listManifest(s"$gen/sizes"), s"$m1")
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        Seq((202L, tail(951))).toDF("doc_id", "text"))
      val m2 = ComponentsArtifact.readMeta(spark, base)
      assert((m2.shFiles, m2.shBytes) == listManifest(s"$gen/shingles"), s"$m2")
      assert(m2.shFiles > m1.shFiles,
        s"each append adds index files the manifest must account for: $m1 -> $m2")
      // 201 is a near-dup of 29/30, so both appends' pair work ran for
      // real (202's unique tail correctly stays clusterless)
      val ids = readClusters(base).map(_._1).toSet
      assert(ids.contains(201L) && ids.contains(29L) && !ids.contains(202L))
    } finally Dedup.rmdir(new java.io.File(base))
  }
}
