package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the incremental components-artifact contract (round-7 verdict
  * ask #4): appending an increment to a corpus-snapshot artifact via
  * [[ComponentsArtifact.appendComponentsArtifact]] must produce clusters
  * AND the n_pairs meta HASH-EQUAL to a cold
  * [[ComponentsArtifact.buildComponentsArtifactFrom]] over corpus∪increment
  * — including when the snapshot's df-cutoff guard is armed (a hot
  * boilerplate shingle cut from candidate generation on both paths) —
  * and the appended artifact must itself accept FURTHER appends (the
  * index files grow with each increment, so maintenance chains).
  *
  * Equality precondition (documented on incrementalNgramPairs): the
  * increment must not push a previously-rare shingle over the snapshot
  * cutoff — the cut set is snapshot metadata, re-evaluated only at the
  * next full rebuild. The fixtures honor it: the planted hot phrase is
  * already hot in the corpus alone, and every other shingle's union df
  * stays far below the cutoff.
  */
class ComponentsIncrSpec extends SparkSpec {
  import spark.implicits._

  // Corpus: 20 docs sharing a 3-token boilerplate prefix (one shingle at
  // df 20 > autoDfCutoff's floor of 16 → the guard arms and cuts it)
  // with unique 12-token tails (every other shingle df ≤ 2), plus two
  // near-dup families:
  //   {1, 2} — identical tails (cross-corpus pair)
  //   {10, 11} — identical tails
  // Increment (ids 101+): 101 near-dups corpus doc 1 (cross-boundary
  // edge that must MERGE into cluster {1,2}), 102/103 are an
  // increment-internal pair, 104 is novel, 105 near-dups corpus doc 10.
  private def tail(seed: Int): String =
    (0 until 12).map(i => s"w${seed}_$i").mkString(" ")

  private def doc(id: Long, t: String): (Long, String) =
    (id, s"common boiler plate $t")

  private def corpusDocs: DataFrame =
    ((1L to 20L).map { id =>
      val t = id match {
        case 2 => tail(1)   // near-dup of doc 1
        case 11 => tail(10) // near-dup of doc 10
        case n => tail(n.toInt)
      }
      doc(id, t)
    }).toDF("doc_id", "text")

  private def incrementDocs: DataFrame =
    Seq(
      doc(101L, tail(1) + " extra"), // near-dup of corpus docs 1 and 2
      doc(102L, tail(301)),          // increment-internal pair with 103
      doc(103L, tail(301) + " tailbit"),
      doc(104L, tail(400)),          // novel
      doc(105L, tail(10))            // near-dup of corpus docs 10 and 11
    ).toDF("doc_id", "text")

  // resolved through the epoch pointer: after appends the live
  // clusters/meta sit in versioned dirs published via CURRENT
  private def readClusters(dir: String): Seq[(Long, Long)] =
    spark.read.parquet(ComponentsArtifact.clustersDirOf(dir))
      .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toSeq.sorted

  private def readNPairs(dir: String): Long =
    ComponentsArtifact.readMeta(spark, dir).nPairs

  test("append == cold rebuild over the union (clusters + n_pairs), guard armed") {
    val base = Files.createTempDirectory("comp-incr-base").toString
    val cold = Files.createTempDirectory("comp-incr-cold").toString
    try {
      // the planted boilerplate must actually arm the guard, or this
      // spec stops covering the hot re-add path
      assert(Dedup.autoDfCutoff(corpusDocs) < 20,
        "fixture regression: cutoff must sit below the boilerplate df")
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      assert(spark.read.parquet(s"${ComponentsArtifact.genDirOf(base)}/hot").count() >= 1L,
        "fixture regression: the boilerplate shingle must be hot")
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpusDocs.unionByName(incrementDocs), cold)
      ComponentsArtifact.appendComponentsArtifact(spark, base, incrementDocs)
      assert(readClusters(base) == readClusters(cold))
      assert(readNPairs(base) == readNPairs(cold))
      // sanity on the semantics themselves: the cross-boundary edge
      // merged 101 into the {1,2} cluster (min-label 1), 105 into
      // {10,11}, and {102,103} formed a new increment-internal cluster
      val m = readClusters(base).toMap
      assert(m(101L) == 1L && m(2L) == 1L, s"got $m")
      assert(m(105L) == 10L && m(11L) == 10L, s"got $m")
      assert(m(102L) == 102L && m(103L) == 102L, s"got $m")
      assert(!m.contains(104L), "novel doc must stay a singleton (absent)")
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("candidate-pruned verify: identical pairs to the default verify, " +
      "over-cap fallback included, guard armed") {
    val base = Files.createTempDirectory("comp-incr-semi").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      val gen = ComponentsArtifact.genDirOf(base)
      val dflt = Dedup.incrementalNgramPairs(incrementDocs,
          spark.read.parquet(s"$gen/shingles"),
          spark.read.parquet(s"$gen/sizes"),
          spark.read.parquet(s"$gen/hot"), k = 3, threshold = 0.5)
        .collect().map(_.toSeq).toSeq
      // the fixture surfaces cross-boundary, increment-internal and
      // hot-contribution pairs — a diverging verify could not hide
      assert(dflt.nonEmpty)
      // the candidate-pruned verify (hotAll/sizes semi-joined to
      // collected candidate ids) must be row-identical — the
      // hot-contribution pairs make a wrongly pruned docHot impossible
      // to hide
      def pruned(cap: String) = {
        spark.conf.set("graft.dedup.candidatePairCollectMaxRows", cap)
        try Dedup.incrementalNgramPairs(incrementDocs,
            spark.read.parquet(s"$gen/shingles"),
            spark.read.parquet(s"$gen/sizes"),
            spark.read.parquet(s"$gen/hot"), k = 3, threshold = 0.5,
            pruneVerifyByCandidates = true)
          .collect().map(_.toSeq).toSeq
        finally spark.conf.unset("graft.dedup.candidatePairCollectMaxRows")
      }
      assert(pruned((2L * 1000 * 1000).toString) == dflt,
        "the candidate-pruned verify must not change a single pair or value")
      // cap = 1 forces the over-cap fallback (backfill regime): the
      // distributed tail, still identical
      assert(pruned("1") == dflt,
        "the over-cap fallback must not change a single pair or value")
    } finally Dedup.rmdir(new java.io.File(base))
  }

  test("merge locality: clusters untouched by the increment pass through " +
      "verbatim (append == cold), both broadcast arms") {
    // r17: the append's component merge runs union-find over ONLY the
    // clusters reachable from new pairs and copies the rest through.
    // This increment touches {1,2} (via 101) and forms {102,103} but
    // never goes near {10,11} — so the {10,11} rows come out of the
    // unaffected-cluster passthrough, not a re-merge. A wrong affected
    // set (missed cluster, or a passthrough row also re-merged into a
    // duplicate) cannot match the cold rebuild's clusters row set.
    val inc = Seq(
      doc(101L, tail(1) + " extra"),  // near-dup of corpus docs 1 and 2
      doc(102L, tail(301)),           // increment-internal pair with 103
      doc(103L, tail(301) + " tailbit")
    ).toDF("doc_id", "text")
    for (forcePlain <- Seq(false, true)) {
      val base = Files.createTempDirectory("comp-incr-loc").toString
      val cold = Files.createTempDirectory("comp-incr-loc-cold").toString
      // force the locality arm (the adaptive default keeps the flat
      // merge below 2M bounded edges — this fixture is tiny)
      spark.conf.set("graft.components.mergeLocalityMinEdges", "0")
      if (forcePlain) // exercise the non-broadcast merge joins too
        spark.conf.set("graft.components.mergeBcastMaxPairs", "0")
      try {
        ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
        ComponentsArtifact.buildComponentsArtifactFrom(spark,
          corpusDocs.unionByName(inc), cold)
        ComponentsArtifact.appendComponentsArtifact(spark, base, inc)
        assert(readClusters(base) == readClusters(cold),
          s"forcePlain=$forcePlain")
        assert(readNPairs(base) == readNPairs(cold), s"forcePlain=$forcePlain")
        val m = readClusters(base).toMap
        // the untouched cluster survives with its exact label...
        assert(m(10L) == 10L && m(11L) == 10L, s"got $m")
        // ...exactly once (a passthrough row duplicated into the merge
        // would double it in the parquet)
        val rows = readClusters(base)
        assert(rows.size == rows.distinct.size, s"duplicate rows in $rows")
        assert(m(101L) == 1L && m(102L) == 102L && m(103L) == 102L, s"got $m")
      } finally {
        spark.conf.unset("graft.components.mergeLocalityMinEdges")
        spark.conf.unset("graft.components.mergeBcastMaxPairs")
        Dedup.rmdir(new java.io.File(base))
        Dedup.rmdir(new java.io.File(cold))
      }
    }
  }

  test("append with the plain-shuffle shapes (broadcastCap=0) equals cold") {
    // small increments take the adaptive broadcast pushdown by default,
    // so without this case the append's plain-shuffle branch (the
    // corpus-scale-increment degradation) would be spec-uncovered
    val base = Files.createTempDirectory("comp-incr-plain").toString
    val cold = Files.createTempDirectory("comp-incr-plain-cold").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpusDocs.unionByName(incrementDocs), cold)
      ComponentsArtifact.appendComponentsArtifact(spark, base, incrementDocs,
        broadcastCap = 0L)
      assert(readClusters(base) == readClusters(cold))
      assert(readNPairs(base) == readNPairs(cold))
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("append with the candidate-pruned verify (pruneVerify = true, the " +
      "opt-in hot-volume scale knob) equals cold") {
    val base = Files.createTempDirectory("comp-incr-prunev").toString
    val cold = Files.createTempDirectory("comp-incr-prunev-cold").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpusDocs.unionByName(incrementDocs), cold)
      ComponentsArtifact.appendComponentsArtifact(spark, base, incrementDocs,
        pruneVerify = true)
      assert(readClusters(base) == readClusters(cold))
      assert(readNPairs(base) == readNPairs(cold))
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("adaptive candidate-pruned verify: the append turns the prune on " +
      "by itself when the hot-volume lower bound crosses the cutoff " +
      "(round 16), output still equal to cold") {
    val base = Files.createTempDirectory("comp-incr-adapt").toString
    val cold = Files.createTempDirectory("comp-incr-adapt-cold").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpusDocs.unionByName(incrementDocs), cold)
      // cutoff forced to 1: the fixture's hot sidecar is non-empty with
      // minHotDf > 0, so |hot| × minHotDf ≥ 1 fires the adaptive prune
      // WITHOUT pruneVerify = true — pinned via the append's decision
      // line, since the output is identical by construction either way
      spark.conf.set("graft.dedup.pruneVerifyHotRows", "1")
      val errBuf = new java.io.ByteArrayOutputStream()
      val realErr = System.err
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      try ComponentsArtifact.appendComponentsArtifact(spark, base, incrementDocs)
      finally {
        System.setErr(realErr)
        spark.conf.unset("graft.dedup.pruneVerifyHotRows")
        realErr.print(errBuf.toString("UTF-8"))
      }
      assert(errBuf.toString("UTF-8").contains("candidate-pruned verify"),
        "the adaptive trigger must engage at cutoff 1 on a hot-carrying fixture")
      assert(readClusters(base) == readClusters(cold))
      assert(readNPairs(base) == readNPairs(cold))
      // and at the production cutoff the tiny fixture stays in the
      // measured-loss default: the decision line must NOT claim the prune
      val base2 = Files.createTempDirectory("comp-incr-adapt2").toString
      try {
        ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base2)
        val errBuf2 = new java.io.ByteArrayOutputStream()
        System.setErr(new java.io.PrintStream(errBuf2, true, "UTF-8"))
        try ComponentsArtifact.appendComponentsArtifact(spark, base2, incrementDocs)
        finally {
          System.setErr(realErr)
          realErr.print(errBuf2.toString("UTF-8"))
        }
        assert(!errBuf2.toString("UTF-8").contains("candidate-pruned verify"),
          "a tiny hot set must keep the measured-loss default off")
        assert(readClusters(base2) == readClusters(cold))
      } finally Dedup.rmdir(new java.io.File(base2))
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("appends chain: two successive increments equal one cold union build") {
    val base = Files.createTempDirectory("comp-incr-chain").toString
    val cold = Files.createTempDirectory("comp-incr-chain-cold").toString
    try {
      val inc1 = incrementDocs.filter(col("doc_id") <= 103L)
      val inc2 = incrementDocs.filter(col("doc_id") > 103L)
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc1)
      ComponentsArtifact.appendComponentsArtifact(spark, base, inc2)
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpusDocs.unionByName(incrementDocs), cold)
      assert(readClusters(base) == readClusters(cold))
      assert(readNPairs(base) == readNPairs(cold))
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("randomized property: append == cold union build on seeded corpora (3 seeds)") {
    // The constructed cases above choose which pairs exist; here the
    // RANDOM corpus decides — near-dups of every strength (appended
    // token, substituted token, exact copy), increment-internal dups,
    // and novel docs, with jaccards landing on both sides of the 0.5
    // threshold. The property is PATH EQUALITY: whatever the pair set
    // is, append must reproduce the cold union build bit-for-bit.
    // Vocab is wide (8k tokens over ≤65 docs) so no shingle approaches
    // the df cutoff — the fixed-cut-set precondition holds by
    // construction.
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      def randTokens(): Vector[String] =
        Vector.fill(10 + rnd.nextInt(5))(s"v${rnd.nextInt(8000)}")
      val corpusToks = (1L to 50L).map(id => id -> randTokens()).toMap
      val corpus = corpusToks.toSeq.sortBy(_._1)
        .map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      val incRows = (0 until 15).map { i =>
        val id = 1001L + i
        val text = i match {
          case j if j < 3 => // exact copy of a random corpus doc
            corpusToks(1L + rnd.nextInt(50)).mkString(" ")
          case j if j < 6 => // appended-token near-dup (high jaccard)
            (corpusToks(1L + rnd.nextInt(50)) :+ s"x$j").mkString(" ")
          case j if j < 9 => // substituted-token variant (may fall under 0.5)
            val t = corpusToks(1L + rnd.nextInt(50))
            t.updated(rnd.nextInt(t.length), s"y$j").mkString(" ")
          case 9 | 10 => // increment-internal exact pair
            "shared increment pair text " + (0 until 8).map(k => s"p${seed}_$k").mkString(" ")
          case _ => randTokens().mkString(" ")
        }
        (id, text)
      }
      val increment = incRows.toDF("doc_id", "text")
      val base = Files.createTempDirectory(s"comp-incr-rnd-$seed").toString
      val cold = Files.createTempDirectory(s"comp-incr-rndc-$seed").toString
      try {
        ComponentsArtifact.buildComponentsArtifactFrom(spark, corpus, base)
        ComponentsArtifact.appendComponentsArtifact(spark, base, increment)
        ComponentsArtifact.buildComponentsArtifactFrom(spark,
          corpus.unionByName(increment), cold)
        assert(readClusters(base) == readClusters(cold), s"seed $seed: clusters")
        assert(readNPairs(base) == readNPairs(cold), s"seed $seed: n_pairs")
        // the candidate-pruned verify must hold path equality over
        // whatever pair set the seed produced (round 15 — the
        // single-fixture equality elsewhere plus three random draws
        // here): a FRESH increment of random copies/variants, disjoint
        // ids, paired against the grown base snapshot both ways
        val inc2 = (0 until 6).map { i =>
          val srcToks = corpusToks(1L + rnd.nextInt(50))
          val text = i % 3 match {
            case 0 => srcToks.mkString(" ")                       // exact copy
            case 1 => (srcToks :+ s"z$i").mkString(" ")           // near-dup
            case _ => srcToks.updated(rnd.nextInt(srcToks.length),
              s"w$i").mkString(" ")                               // variant
          }
          (3001L + i, text)
        }.toDF("doc_id", "text")
        val baseGen = ComponentsArtifact.genDirOf(base)
        def rePair(prune: Boolean) = Dedup.incrementalNgramPairs(inc2,
            spark.read.parquet(s"$baseGen/shingles"),
            spark.read.parquet(s"$baseGen/sizes"),
            spark.read.parquet(s"$baseGen/hot"), k = 3, threshold = 0.5,
            pruneVerifyByCandidates = prune)
          .collect().map(_.toSeq).toSeq
        val dflt = rePair(prune = false)
        assert(dflt.nonEmpty, s"seed $seed: fixture must surface pairs")
        assert(rePair(prune = true) == dflt,
          s"seed $seed: pruned verify diverged")
      } finally {
        Dedup.rmdir(new java.io.File(base))
        Dedup.rmdir(new java.io.File(cold))
      }
    }
  }

  test("hostile edge docs (NULL/empty/sub-k texts, exact dup of corpus edge doc): append == cold") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // shingle-less docs (NULL text, empty, whitespace, < k tokens) are
    // absent from the pair graph on BOTH paths (the shingleRows
    // contract); they must not break the index writes, the sizes join,
    // or the components merge — and a real near-dup in the same
    // increment must still pair. Rows built via an explicit schema:
    // toDF can't infer nullable text from a Seq of tuples with nulls.
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    def frame(rows: Seq[(Long, String)]) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    val corpus = frame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, null), (4L, ""), (5L, "one two"), // shingle-less corpus docs
      (6L, "totally different text about other things entirely")))
    val increment = frame(Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta"), // near-dup of {1,2}
      (102L, null), (103L, " \t "), (104L, "xy"), // shingle-less increment docs
      (105L, "novel words nothing shares with anything else here")))
    val base = Files.createTempDirectory("comp-incr-hostile").toString
    val cold = Files.createTempDirectory("comp-incr-hostile-cold").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpus, base)
      ComponentsArtifact.appendComponentsArtifact(spark, base, increment)
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpus.unionByName(increment), cold)
      assert(readClusters(base) == readClusters(cold))
      assert(readNPairs(base) == readNPairs(cold))
      val m = readClusters(base).toMap
      assert(m(101L) == 1L && m(2L) == 1L, s"got $m")
      assert(Seq(3L, 4L, 5L, 102L, 103L, 104L, 105L).forall(!m.contains(_)),
        s"shingle-less/novel docs must be absent: $m")
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("empty-bootstrap artifact: a corpus with NO shingles at all builds a " +
      "readable artifact (empty bucketed index) and real appends chain onto it") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // the operational bootstrap pattern: create the artifact empty (or
    // effectively empty — only shingle-less docs), then grow it by
    // appends. The bucketed index writes ZERO partition dirs for
    // this corpus; the explicit-schema read must keep every consumer
    // (validation counts, bucket scans, pair joins) working on it.
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    def frame(rows: Seq[(Long, String)]) =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)
    val corpus = frame(Seq((1L, null), (2L, ""), (3L, "one two")))
    val base = Files.createTempDirectory("comp-incr-bootstrap").toString
    val cold = Files.createTempDirectory("comp-incr-bootstrap-cold").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpus, base)
      val m0 = ComponentsArtifact.readMeta(spark, base)
      assert(m0.nDocsIndexed == 0L && m0.nShingleRows == 0L &&
        m0.nDocsTotal == 3L && m0.minHotDf == Long.MaxValue &&
        !m0.rebuildRecommended, s"got $m0")
      assert(readClusters(base).isEmpty)
      val increment = frame(Seq(
        (101L, "alpha beta gamma delta epsilon zeta"),
        (102L, "alpha beta gamma delta epsilon zeta eta"))) // near-dup pair
      ComponentsArtifact.appendComponentsArtifact(spark, base, increment)
      ComponentsArtifact.buildComponentsArtifactFrom(spark,
        corpus.unionByName(increment), cold)
      assert(readClusters(base) == readClusters(cold))
      assert(readNPairs(base) == readNPairs(cold) && readNPairs(base) >= 1L)
    } finally {
      Dedup.rmdir(new java.io.File(base))
      Dedup.rmdir(new java.io.File(cold))
    }
  }

  test("empty increment is a no-op") {
    val base = Files.createTempDirectory("comp-incr-empty").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base)
      val before = (readClusters(base), readNPairs(base))
      ComponentsArtifact.appendComponentsArtifact(spark, base,
        incrementDocs.filter(lit(false)))
      assert((readClusters(base), readNPairs(base)) == before)
    } finally Dedup.rmdir(new java.io.File(base))
  }
}
