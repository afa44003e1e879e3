package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.Tables
import graft.functions.{TextFunctions => T, VectorFunctions => V}

class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf("sf0.001"))
  private lazy val embs = Tables.embeddings(spark, sf("sf0.001"))

  test("polyHash matches a reference implementation on sample strings") {
    def ref(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % T.HashMod)
    val got = Seq("", "a", "spark graft", "hello world hello")
      .toDF("s").select(T.polyHash(col("s"))).as[Long].collect()
    assert(got.toSeq == Seq("", "a", "spark graft", "hello world hello").map(ref))
  }

  test("BPE-ish token count: letter runs, digit runs, single punctuation") {
    val got = Seq("hello world", "can't stop", "a1b2", "x, y!  z", "")
      .toDF("s").select(T.bpeTokenCount(col("s"))).as[Int].collect()
    // "hello","world" | "can","'","t","stop" | "a","1","b","2" | "x",",","y","!","z" | none
    assert(got.toSeq == Seq(2, 4, 4, 5, 0))
  }

  test("shingles: sliding k-grams, short docs empty") {
    val got = Seq("a b c d", "a b").toDF("text")
      .select(T.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
  }

  test("minhash signature: similar docs share more hash minima than dissimilar") {
    val sigs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "the quick brown fox jumps over the lazy dog and runs away slowly"),
      (3L, "completely different text about spark query engines and shuffles")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), T.tokenHashes(col("text")).as("ths"))
      .select(col("doc_id"), T.minhashSigFromHashes(T.shingleHashes(col("ths"), 3)).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    def overlap(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(overlap(sigs(1L), sigs(2L)) > overlap(sigs(1L), sigs(3L)))
  }

  test("minhash-LSH pairs find all planted near-dups (recall vs exact jaccard)") {
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashPairs(docs, 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exact, s"LSH candidates must cover every >=0.5 pair (missed ${exact -- lsh})")
  }

  test("shingle df skew guard: planted hot shingle pruned, output unchanged") {
    // 30 docs share a ubiquitous 3-gram (df 30); docs 1 & 2 are near-dups
    // through their RARE shingles. The hot shingle alone would contribute
    // C(30,2)=435 candidate rows on one join key.
    val fixture = (1L to 30L).map { id =>
      val unique =
        if (id == 2L) "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"
        else if (id == 1L) "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        else s"unique$id word$id token$id item$id thing$id part$id bit$id"
      (id, s"common filler phrase here $unique")
    }.toDF("doc_id", "text")
    val unguarded = Dedup.ngramJaccardPairs(fixture, 3, 0.5).collect()
    val guarded = Dedup.ngramJaccardPairs(fixture, 3, 0.5, Some(5)).collect()
    assert(unguarded.map(_.getAs[Long]("i")).contains(1L), "near-dup pair planted")
    assert(guarded.map(_.toSeq).toSeq == unguarded.map(_.toSeq).toSeq,
      "guard must not change the verified output")

    // real testdata: cutoff 4 actively drops the df 5-9 tail at sf0.001,
    // and every >=0.5 pair still shares a df<=4 shingle (measured)
    val full = Dedup.ngramJaccardPairs(docs, 3, 0.5).collect()
    val active = Dedup.ngramJaccardPairs(docs, 3, 0.5, Some(4)).collect()
    assert(active.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
  }

  test("keepBestSurvivors: highest score wins per cluster, singletons kept") {
    import org.apache.spark.sql.functions.{array_distinct, col, size}
    // cluster {1,2,3} (min-id 1) + singleton 9; doc 2 has the most
    // distinct tokens, so the POLICY keeps 2 where min-id would keep 1
    val docs = Seq(
      (1L, "a a a a"), (2L, "a b c d"), (3L, "a b a b"), (9L, "x y"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val t = graft.functions.TextFunctions.tokens(col("text"))
    val out = Dedup.keepBestSurvivors(docs, clusters,
        size(array_distinct(t)).cast("long") / size(t).cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out(2L) == (1L, true), "best-quality doc wins its cluster")
    assert(out(1L) == (1L, false) && out(3L) == (1L, false))
    assert(out(9L) == (9L, true), "singletons form their own kept cluster")
  }

  test("connected components: chains collapse to the min doc_id per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L)).toDF("i", "j")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L)
    val got = Dedup.components(pairs).as[(Long, Long)].collect().toMap
    assert(got == expect)
    // the distributed label-propagation path computes the same fixpoint
    val dist = Dedup.components(pairs, maxDriverEdges = 0L).as[(Long, Long)].collect().toMap
    assert(dist == expect)
    // real near-dup pairs: every clustered doc maps to a member of its pair set
    val real = Dedup.components(Dedup.ngramJaccardPairs(docs, 3, 0.5))
      .as[(Long, Long)].collect()
    assert(real.nonEmpty && real.forall { case (d, c) => c <= d })
  }

  test("components: 30-hop chain converges through parquet checkpoints") {
    // a chain needs diameter rounds — with checkpointEvery = 5 the run
    // crosses several lineage truncations; the fixpoint must be unchanged
    // and every node must collapse to the chain head
    val chain = (0L until 30L).map(n => (n, n + 1)).toDF("i", "j")
    val got = Dedup.components(chain, maxDriverEdges = 0L, checkpointEvery = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L to 30L).map(_ -> 0L).toMap)
  }

  test("components: a supplied checkpointDir hosts the distributed round-trip, " +
      "intermediates are cleaned eagerly, outputs unchanged (VERDICT r12 #3)") {
    // on a real cluster the per-round parquet re-root needs SHARED
    // storage — this pins that a supplied root is actually used (the
    // run dir appears under it, nothing lands in the tmpdir default's
    // naming) and that edges + superseded round checkpoints are deleted
    // by the time the call returns; only final/ may outlive it (the
    // returned frame reads it — exit hook's job)
    val root = java.nio.file.Files.createTempDirectory("cc-ckpt-root").toString
    try {
      val chain = (0L until 30L).map(n => (n, n + 1)).toDF("i", "j")
      val got = Dedup.components(chain, maxDriverEdges = 0L,
        checkpointEvery = 5, checkpointDir = Some(root))
        .as[(Long, Long)].collect().toMap
      assert(got == (0L to 30L).map(_ -> 0L).toMap,
        "a relocated checkpoint root must not change the fixpoint")
      val runDirs = Option(new java.io.File(root).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_cc_"))
      assert(runDirs.length == 1,
        s"the run must live under the supplied root: ${runDirs.toSeq}")
      val subs = runDirs.head.listFiles().map(_.getName).toSet
      assert(subs == Set("final"),
        s"intermediates (edges, round checkpoints) must be cleaned eagerly: $subs")
    } finally Dedup.cleanupAtExit.add { () =>
      Dedup.rmdir(new java.io.File(root))
    }
  }

  test("near-dup pairs are simhash-close; exact dedup keeps every unique text") {
    val sims = Dedup.simhashes(docs).as[(Long, Long)].collect().toMap
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect()
    val dists = pairs.map { case (i, j) =>
      java.lang.Long.bitCount(sims(i) ^ sims(j)) }
    // 62-bit fingerprints: planted >=0.5-jaccard pairs measure 0..8 apart,
    // far under the ~31 expected of unrelated docs sharing a vocabulary
    assert(dists.forall(_ <= 12), s"near-dup simhash distances: ${dists.toSeq}")
    assert(Dedup.exact(docs).count() == docs.count()) // no exact dups planted
  }

  test("simhash band split is pigeonhole-exact at wider distances (maxDist 3)") {
    val sims = Dedup.simhashes(docs).as[(Long, Long)].collect()
    val expect = (for {
      a <- sims; b <- sims if a._1 < b._1
      d = java.lang.Long.bitCount(a._2 ^ b._2) if d <= 3
    } yield (a._1, b._1, d.toLong)).toSet
    val got = Dedup.simhashPairs(docs, maxDist = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect, s"banded join must equal brute force (diff ${got.diff(expect) ++ expect.diff(got)})")
    assert(expect.nonEmpty, "testdata should contain simhash-close pairs at dist <= 3")
  }

  test("mmrTopK: redundancy penalized — the near-duplicate of pick 1 loses to the diverse vector") {
    // query=[1,0,0]; v1/v2 nearly identical high-relevance, v3 lower-rel
    // but diverse. Plain top-2 is (v1, v2); diversity-weighted MMR
    // (lambda=0.3) must pick v3 second despite its lower relevance.
    val planted = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f), 0),
      (2L, Seq(0.9f, 0.11f, 0.0f), 0),
      (3L, Seq(0.6f, 0.0f, 0.8f), 0)
    ).toDF("vec_id", "embedding", "label")
    val picks = Similarity.mmrTopK(planted, queryId = 0L, k = 2, m = 3,
        lambda = 0.3, oneMinusLambda = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(picks.head._2 == 1L, "pick 1 is the highest-relevance vector")
    assert(picks(1)._2 == 3L, s"pick 2 must be the diverse vector, got ${picks.toSeq}")
    // declared config over real data: k ranks, no repeats, rank 1 = knn top-1
    val mmr = Similarity.mmrTopK(embs, queryId = 0L, k = 10, m = 32).collect()
    assert(mmr.length == 10 && mmr.map(_.getLong(1)).distinct.length == 10)
    assert(mmr.head.getLong(1) ==
      Similarity.bruteForceKnn(embs, 0L, 1).collect().head.getLong(0))
  }

  test("cosine: exact on known vectors; knn ranks the data deterministically") {
    val c = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)), (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b").select(V.cosine(col("a"), col("b"))).as[Double].collect()
    assert(c(0) == 1.0 && c(1) == 0.0)
    val knn = Similarity.bruteForceKnn(embs, 0L, 5).collect()
    assert(knn.length == 5)
    val cs = knn.map(_.getAs[Double]("cos_sim"))
    assert(cs.sameElements(cs.sorted.reverse), "descending by cosine")
  }

  test("knnJoin: matches the naive global window per query, repartition-stable") {
    import org.apache.spark.sql.expressions.Window
    val got = Similarity.knnJoin(embs, nQueries = 4, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._1).distinct.size == 4, "every query answered")
    // naive counterpart: score everything, one global window per query
    val q = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        sqrt(V.norm2(col("embedding"))).as("q_nrm"))
    val naive = embs.filter(col("vec_id") >= 4).crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        (V.dot(col("embedding"), col("q_emb")) /
          (sqrt(V.norm2(col("embedding"))) * col("q_nrm"))).as("cos_sim"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("rk"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.sorted == naive.sorted, "two-stage top-k must equal the naive rank")
    val reparted = Similarity.knnJoin(embs.repartition(13), nQueries = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(reparted.sorted == got.sorted, "stage-1 partition slicing must not change results")
  }

  test("LSH knn returns a subset of brute-force ordering within the bucket") {
    val r = Similarity.lshKnn(embs, 0L, 10, 4).collect()
    // 4 planes over 500 vecs → buckets are populated; result must be non-empty
    assert(r.nonEmpty)
    val buckets = r.map(_.getAs[Long]("bucket")).distinct
    assert(buckets.length == 1, "all results share the query's bucket")
  }

  test("multi-probe LSH knn: wider candidate set, never worse than single probe") {
    val single = Similarity.lshKnn(embs, 0L, 10, 4).collect()
    val multi = Similarity.lshKnnMultiProbe(embs, 0L, 10, 4, maxFlips = 1).collect()
    val brute = Similarity.bruteForceKnn(embs, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(multi.nonEmpty)
    // probed cells are exactly the <=1-bit neighbors of the query's bucket
    val qBucket = single.head.getAs[Long]("bucket")
    assert(multi.forall(r =>
      java.lang.Long.bitCount(r.getAs[Long]("bucket") ^ qBucket) <= 1))
    // recall vs brute force can only improve with more probes
    def recall(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getAs[Long]("vec_id")).count(brute)
    assert(recall(multi) >= recall(single))
  }

  test("exact embedding dedup: identical to all-pairs, but no nested-loop join") {
    val allPairs = Dedup.embeddingNearDupsAllPairs(embs, 0.45).collect()
    val pruned = Dedup.embeddingNearDupsExact(embs, 0.45)
    val got = pruned.collect()
    assert(allPairs.nonEmpty, "testdata should contain planted near-dup embeddings")
    // bit-identical rows: same pairs AND same IEEE cosine values
    assert(got.map(_.toSeq).toSeq == allPairs.map(_.toSeq).toSeq)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"exact dedup must not plan an all-pairs join:\n$plan")
  }

  test("LSH embedding dedup: verified subset with full recall at tuned params") {
    val exact = Dedup.embeddingNearDupsAllPairs(embs, 0.45)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupsLsh(embs, 0.45)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "verify step must keep only true >= threshold pairs")
    assert(lsh == exact, s"tuned (p=3, B=32) recall on sf0.001 is 100% (missed ${exact -- lsh})")
    // at full recall the rows themselves — each pair once, IEEE cosine
    // values included — are the all-pairs truth's
    assert(Dedup.embeddingNearDupsLsh(embs, 0.45).collect().map(_.toSeq).toSeq ==
      Dedup.embeddingNearDupsAllPairs(embs, 0.45).collect().map(_.toSeq).toSeq)
  }

  test("semantic dedup: exactly the co-clustered near-dup pairs, equi-join plan") {
    val sem = Dedup.semanticNearDups(embs, k = 8, iters = 2, threshold = 0.45)
    val got = sem.select("cluster", "i", "j", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty, "planted near-dups should co-cluster under k-means")
    // ground truth: all-pairs near-dups restricted to same-cluster pairs
    val cl = KMeans.lloyd(embs, k = 8, iters = 2)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val expected = Dedup.embeddingNearDupsAllPairs(embs, 0.45)
      .select("i", "j", "cos_sim").as[(Long, Long, Double)].collect()
      .filter { case (i, j, _) => cl(i) == cl(j) }
      .map { case (i, j, c) => (cl(i), i, j, c) }.toSeq.sorted
    assert(got.sorted == expected,
      "within-cluster pairs must match the all-pairs truth bit-for-bit")
    // the pair join must be a cluster-keyed EQUI-join; the only nested-loop
    // allowed is k-means' k-row centroid broadcast (assignment pass)
    val plan = sem.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
    assert(plan.contains("Join [cluster") || plan.contains("Join [coalesce(cluster"),
      s"pair generation must equi-join on the cluster id:\n$plan")
  }

  test("embedding blocker circuit breakers: hot bucket/cluster fail loudly, bounded runs unchanged") {
    // p=3 gives 8 buckets per band, so SOME bucket holds >= 2 vectors on
    // any non-trivial fixture — a bound of 1 must trip the LSH breaker
    val eL = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsLsh(embs, 0.45, maxBucketRows = Some(1L)).count()
    }
    assert(eL.getMessage.contains("maxBucketRows"), eL.getMessage)
    // a bound the buckets respect changes nothing vs the unguarded run
    val guardedL = Dedup.embeddingNearDupsLsh(embs, 0.45,
      maxBucketRows = Some(1000000L)).collect().toSeq
    val plainL = Dedup.embeddingNearDupsLsh(embs, 0.45).collect().toSeq
    assert(guardedL == plainL)
    // same contract for the SemDeDup hot-cluster breaker
    val eS = intercept[IllegalArgumentException] {
      Dedup.semanticNearDups(embs, k = 8, iters = 2, threshold = 0.45,
        maxClusterRows = Some(1L)).count()
    }
    assert(eS.getMessage.contains("maxClusterRows"), eS.getMessage)
    val guardedS = Dedup.semanticNearDups(embs, k = 8, iters = 2,
      threshold = 0.45, maxClusterRows = Some(1000000L)).collect().toSeq
    val plainS = Dedup.semanticNearDups(embs, k = 8, iters = 2,
      threshold = 0.45).collect().toSeq
    assert(guardedS == plainS)
  }

  test("phrase search: exact occurrence counts, overlaps, repeated terms") {
    import spark.implicits._
    val fixture = Seq(
      (0L, "a b c a b c a b"), // starts 0 and 3
      (1L, "a b x c"),         // no occurrence
      (2L, "c a b c"),         // start 1
      (3L, "a a a")            // for phrase "a a": overlapping starts 0, 1
    ).toDF("doc_id", "text")
    val abc = Ranking.phraseSearch(fixture, Seq("a", "b", "c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(abc == Seq((0L, 2L, 0L), (2L, 1L, 1L)))
    val aa = Ranking.phraseSearch(fixture, Seq("a", "a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(aa == Seq((3L, 2L, 0L)),
      "overlapping occurrences count at occurrence grain")
  }

  test("chunking: stride/window grid, short tail, lossless stride prefixes") {
    import spark.implicits._
    val words = (0 until 80).map(i => s"w$i")
    val one = Seq((7L, words.mkString(" "))).toDF("doc_id", "text")
    val got = Packing.chunkWindows(one, window = 32, stride = 24).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 32L), (3L, 72L, 8L)))
    // every token position is covered by the chunk starting at its stride
    val rebuilt = got.dropRight(1).map(_._4.split(" ").take(24).mkString(" ")) :+
      got.last._4
    assert(rebuilt.mkString(" ") == words.mkString(" "), "stride prefixes must tile the doc")
  }

  test("hybrid search: RRF fuses both rankings, both-sides doc wins") {
    val hybrid = Ranking.hybridSearch(docs, embs, Seq("spark", "vector", "hash"),
      queryId = 0L, k = 20)
    val rows = hybrid.collect()
    assert(rows.length == 20)
    val rrfs = rows.map(_.getAs[Double]("rrf"))
    assert(rrfs.sameElements(rrfs.sorted.reverse), "descending by fused score")
    // every fused score is achievable from two 1-based integer ranks
    rows.foreach { r =>
      val expect = Option(r.getAs[Any]("r_lex")).map(x => 1.0 / (60.0 + x.asInstanceOf[Long])).getOrElse(0.0) +
        Option(r.getAs[Any]("r_dense")).map(x => 1.0 / (60.0 + x.asInstanceOf[Long])).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") == expect)
    }
  }

  test("char-bigram LM: grain, discriminative scoring, broadcast model") {
    import spark.implicits._
    // in-corpus-looking text vs out-of-distribution gibberish: the corpus
    // model must score the former as lower cross-entropy
    val natural = ("the quick value table " * 10).trim
    val gibberish = "qxz jvk wqp zzx qjx vxq " * 8
    val fixture = Seq((0L, natural), (1L, gibberish.trim), (2L, natural + " extra"),
      (3L, "x")).toDF("doc_id", "text")
    val ce = LangModel.crossEntropy(fixture)
    val rows = ce.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDouble(2))).toMap
    // len<2 docs have no bigrams and drop out; everyone else scores
    assert(rows.keySet == Set(0L, 1L, 2L))
    // n_bigrams is exactly len-1 (occurrence grain survives the agg)
    assert(rows(0L)._1 == natural.length - 1)
    assert(rows(0L)._2 < rows(1L)._2,
      s"in-distribution text must score below gibberish: $rows")
    // the model side must arrive via broadcast, never a shuffled join
    val plan = ce.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bigram model must broadcast:\n$plan")
  }

  test("quantized two-stage knn recovers the exact top-k via rescoring") {
    val brute = Similarity.bruteForceKnn(embs, 0L, 10).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    val quant = Similarity.quantizedKnn(embs, 0L, 10, rescoreDepth = 40).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq
    // rescoring makes returned scores EXACT; with depth 40 over 500 docs
    // the int8 stage keeps every true top-10 candidate on this data
    assert(quant == brute, s"quantized knn diverged:\n$quant\nvs\n$brute")
  }

  test("int8 quantization: codes bounded, reconstruction cosine near 1") {
    val q = embs.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("emb"), V.quantizeScale(col("emb")).as("scale"))
      .select(col("emb"), col("scale"), V.quantize8(col("emb"), col("scale")).as("codes"))
      .select(col("emb"), col("scale"), col("codes"),
        V.dequantize8(col("codes"), col("scale")).as("recon"))
      .select(col("scale"), col("codes"),
        V.cosine(col("emb"), col("recon")).as("recon_cos"))
      .collect()
    q.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("codes").forall(c => c >= -127 && c <= 127))
      assert(r.getAs[Double]("recon_cos") > 0.999,
        s"int8 reconstruction should be near-lossless, got ${r.getAs[Double]("recon_cos")}")
    }
  }

  test("multimodal decode: deterministic stub meta over binary payloads") {
    val m = Multimodal.decodeMeta(spark, docs).collect()
    assert(m.length == docs.count())
    m.foreach { r =>
      assert(r.sha256.length == 64)
      assert(r.width >= 16 && r.width < 656 && r.height >= 16 && r.n_frames >= 1)
    }
    // deterministic: same input → same meta
    val m2 = Multimodal.decodeMeta(spark, docs).collect()
    assert(m.sortBy(_.doc_id).toSeq == m2.sortBy(_.doc_id).toSeq)
  }

  test("resize plan preserves aspect ratio and never upscales") {
    val r = Multimodal.resizePlan(spark, docs, box = 224).collect()
    assert(r.length == docs.count())
    r.foreach { row =>
      val (w, h) = (row.getAs[Long]("width"), row.getAs[Long]("height"))
      val (ow, oh) = (row.getAs[Long]("out_width"), row.getAs[Long]("out_height"))
      assert(ow <= w && oh <= h, "no upscaling")
      if (row.getAs[Boolean]("needs_resize")) {
        assert(math.max(ow, oh) <= 224)
        val longSide = math.max(w, h).toDouble
        assert(ow == math.floor(w * 224 / longSide).toLong
          && oh == math.floor(h * 224 / longSide).toLong,
          s"floor-scaled dims: ${w}x$h -> ${ow}x$oh")
      } else assert(ow == w && oh == h)
    }
  }

  test("frame sampling: <= maxFrames evenly-strided indices within range") {
    val f = Multimodal.frameSample(spark, docs, maxFrames = 4).collect()
    val byDoc = f.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (_, rows) =>
      val n = rows.head.getAs[Long]("n_frames")
      val idx = rows.map(_.getAs[Long]("frame_idx")).sorted
      assert(idx.length <= 4 && idx.head == 0 && idx.last < n)
      val stride = math.ceil(n / 4.0).toLong
      assert(idx.toSeq == (0L until n by stride).toSeq)
    }
  }

  test("shuffledOrder: a stable permutation matching the md5 sort, repartition-stable") {
    import spark.implicits._
    val got = Packing.shuffledOrder(docs).select("pos", "doc_id")
      .as[(Long, Long)].collect().sortBy(_._1)
    // positions are exactly 0..N-1
    assert(got.map(_._1).toSeq == (0L until docs.count()).toSeq)
    // the order agrees with a driver-side sort by the same md5 key
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String = {
      val d = md.digest(s"shuf:$id".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val expect = docs.select("doc_id").as[Long].collect()
      .sortBy(id => (h(id), id))
    assert(got.map(_._2).toSeq == expect.toSeq)
    // stable under different input partitioning
    val got13 = Packing.shuffledOrder(docs.repartition(13)).select("pos", "doc_id")
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(got13.map(_._2).toSeq == expect.toSeq)
  }

  test("lshRecallAtK: bounded per-query hits; full probe set gives recall 1.0") {
    val r = Similarity.lshRecallAtK(embs, nQueries = 4, k = 10).collect()
    assert(r.length == 4)
    r.foreach { row =>
      val hits = row.getAs[Long]("n_hit")
      assert(hits >= 0L && hits <= 10L)
      assert(row.getAs[Double]("recall") == hits / 10.0)
    }
    // maxFlips = nPlanes probes every cell → LSH ranking == exact ranking
    val full = Similarity.lshRecallAtK(embs, nQueries = 4, k = 10,
      nPlanes = 4, maxFlips = 4).collect()
    assert(full.forall(_.getAs[Double]("recall") == 1.0))
  }

  test("ivfRecallAtK: bounded hits; probing every cell gives recall 1.0") {
    val r = Similarity.ivfRecallAtK(embs, nQueries = 4, k = 10).collect()
    assert(r.length == 4)
    r.foreach { row =>
      val hits = row.getAs[Long]("n_hit")
      assert(hits >= 0L && hits <= 10L)
      assert(row.getAs[Double]("recall") == hits / 10.0)
    }
    // nProbe = nCells probes every cell -> IVF ranking == exact ranking
    val full = Similarity.ivfRecallAtK(embs, nQueries = 4, k = 10,
      nCells = 8, nProbe = 8).collect()
    assert(full.forall(_.getAs[Double]("recall") == 1.0))
  }

  test("packOffsets: distributed prefix sum equals the sequential layout") {
    val got = Packing.packOffsets(docs, capacity = 512).collect()
      .sortBy(_.getAs[Long]("doc_id"))
    var run = 0L
    got.foreach { r =>
      assert(r.getAs[Long]("tok_offset") == run,
        s"doc ${r.getAs[Long]("doc_id")}: offset ${r.getAs[Long]("tok_offset")} != $run")
      assert(r.getAs[Long]("bin") == r.getAs[Long]("tok_offset") / 512)
      run += r.getAs[Long]("n_tokens")
    }
    assert(got.length == docs.count())
  }

  test("packOffsets: output is identical across numRanges choices (assignment-independence)") {
    // the invariant behind the window-cumsum oracle: the offsets do not
    // depend on how the doc_id domain was cut into ranges
    val one = Packing.packOffsets(docs, capacity = 512, numRanges = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val many = Packing.packOffsets(docs, capacity = 512, numRanges = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(one.sameElements(many))
  }

  test("incrementalNearDups: near-dup increment docs pair with their corpus source only") {
    import spark.implicits._
    // two corpus near-dup planted pairs exist in `docs` already; build an
    // increment of one near-copy and one unrelated doc
    val corpus = docs.select(col("doc_id"), col("text"))
    val src = docs.orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).collect().head
    val increment = Seq(
      (9000001L, src.getString(1) + " tail note"),
      (9000002L, "completely unrelated fresh content page")
    ).toDF("doc_id", "text")
    assert(increment.join(corpus, Seq("doc_id"), "left_semi").isEmpty,
      "precondition: increment and corpus ids must be disjoint")
    val got = Dedup.incrementalNearDups(increment,
        Dedup.bandIndex(corpus, k = 3), corpus, k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.exists { case (i, j, jac) =>
      i == 9000001L && j == src.getLong(0) && jac > 0.8 })
    assert(!got.exists(_._1 == 9000002L), "unrelated increment doc must not pair")
  }

  test("splitHash: published 90/5/5 contract pinned to independently-computed literals") {
    // values computed outside the JVM (python: poly31 mod 1e9+7 of
    // "split:<id>", mod 100) — an independent anchor for the split
    // contract now that operators and tests share one helper
    import spark.implicits._
    val got = Seq(0L, 1L, 42L, 12345L).toDF("doc_id")
      .select(col("doc_id"), T.splitHash(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 37L, 1L -> 38L, 42L -> 44L, 12345L -> 94L))
  }

  test("incrementalExact: corpus collisions dropped, increment dups collapsed, new survives") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val increment = Seq(
      (10L, "beta"),   // corpus collision → dropped
      (11L, "delta"),  // new → survives
      (12L, "delta"),  // within-increment dup of 11 → collapsed away
      (13L, "epsilon") // new → survives
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(increment, Dedup.exactIndex(corpus))
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 13L))
  }

  test("scrubPii: redacts emails, IPv4s, and SSN-shaped ids; leaves clean text untouched") {
    import spark.implicits._
    val fixture = Seq(
      "write to jane.doe+x@sub.example.co.uk today",
      "server 192.168.1.254 then 8.8.8.8",
      "id 123-45-6789 on file",
      "nothing sensitive here 1234 5.6 ok",
      "mixed bob@x.io at 10.0.0.1 ssn 000-11-2222"
    ).toDF("text")
    val got = fixture.select(T.scrubPii(col("text")).as("s")).as[String].collect()
    assert(got(0) == "write to <EMAIL> today")
    assert(got(1) == "server <IP> then <IP>")
    assert(got(2) == "id <SSN> on file")
    assert(got(3) == "nothing sensitive here 1234 5.6 ok")
    assert(got(4) == "mixed <EMAIL> at <IP> ssn <SSN>")
  }

  test("stratified sampling: membership is the hash rule, quotas exact, both repartition-stable") {
    import spark.implicits._
    val rate = Sampling.stratifiedByRate(docs, "doc_id", "lang",
      Map("en" -> 5000), defaultBps = 1000)
    val hashes = docs.select(col("doc_id"), col("lang"),
        pmod(T.polyHash(concat(lit("sample:"), col("doc_id"))), lit(10000L)).as("sh"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expectRate = hashes.collect {
      case (id, lang, sh) if sh < (if (lang == "en") 5000 else 1000) => id
    }.toSet
    assert(rate.select("doc_id").as[Long].collect().toSet == expectRate)
    // same sample from a differently-partitioned input
    val rate13 = Sampling.stratifiedByRate(docs.repartition(13), "doc_id", "lang",
      Map("en" -> 5000), defaultBps = 1000)
    assert(rate13.select("doc_id").as[Long].collect().toSet == expectRate)

    val quota = Sampling.stratifiedQuota(docs, "doc_id", "lang", quota = 7)
    val perStratum = quota.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (l, n) => assert(perStratum(l) == math.min(7L, n)) }
    val quota13 = Sampling.stratifiedQuota(docs.repartition(13), "doc_id", "lang", quota = 7)
    assert(quota13.select("doc_id").as[Long].collect().toSet ==
      quota.select("doc_id").as[Long].collect().toSet)
  }

  test("clusterBalancedSample: per-cluster cap, every vector reported, partition-invariant") {
    import spark.implicits._
    val embs = graft.Tables.embeddings(spark, sf("sf0.001"))
    val out = Sampling.clusterBalancedSample(embs, k = 8, iters = 2, quota = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == embs.count(), "one verdict row per vector")
    val keptPerCluster = out.filter(_._3).groupBy(_._2).view.mapValues(_.length)
    val sizePerCluster = out.groupBy(_._2).view.mapValues(_.length)
    sizePerCluster.foreach { case (c, n) =>
      assert(keptPerCluster.getOrElse(c, 0) == math.min(16, n),
        s"cluster $c keeps min(quota, size)")
    }
    // same verdicts from a differently-partitioned input (the hash-order
    // pick must not depend on physical layout)
    val out13 = Sampling.clusterBalancedSample(
        embs.repartition(13), k = 8, iters = 2, quota = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out13.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("fuzzy blocking: multi-block recovers prefix-typo pairs (pigeonhole), single-pass misses them") {
    import spark.implicits._
    // key length 16 = two 8-char blocks; pair (1,2) differs ONLY inside
    // the first block, pair (3,4) only inside the second block, pair
    // (5,6) is beyond maxDist everywhere
    // (7,8): SHORT keys (< blockLen+1 chars) with a prefix typo — they
    // share only the empty POSITIONAL second block (chars 9..16 of a
    // 5-char string), which is exactly what the oracle's
    // substring(key, 9, 8) computes; a suffix-anchored block (last 8
    // chars = the whole short key) would miss this pair and diverge
    // from the oracle on any sub-16-char key
    val rows = Seq(
      (1L, "Xbcdefghijklmnop"),
      (2L, "abcdefghijklmnop"),
      (3L, "qrstuvwxijklmnoX"),
      (4L, "qrstuvwxijklmnop"),
      (5L, "AAAAAAAAZZZZZZZZ"),
      (6L, "BBBBBBBBYYYYYYYY"),
      (7L, "short"),
      (8L, "shirt")).toDF("doc_id", "head")
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("i", "j").as[(Long, Long)].collect().toSet
    val single = pairsOf(Dedup.fuzzyKeyPairs(rows, "doc_id", "head",
      prefixLen = 8, maxDist = 3))
    val multi = pairsOf(Dedup.fuzzyKeyPairsMultiBlock(rows, "doc_id", "head",
      blockLen = 8, maxDist = 3))
    // single-pass prefix blocking: the prefix-typo pairs escape their block
    assert(single == Set((3L, 4L)), s"got $single")
    // multi-block: a single edit cannot sit in BOTH positional blocks —
    // the distance-1 pairs (including the short-key pair, blocked on the
    // shared empty second block) are candidates and verify; (5,6) stays out
    assert(multi == Set((1L, 2L), (3L, 4L), (7L, 8L)), s"got $multi")
  }

  test("fuzzy blocking circuit breaker: hot block fails loudly, bounded blocks pass") {
    import spark.implicits._
    // five sub-blockLen keys all share the empty second block — the
    // quadratic hot-block shape the breaker exists to catch
    val rows = (0L until 5L).map(i => (i, s"k$i")).toDF("doc_id", "head")
    val e = intercept[IllegalArgumentException] {
      Dedup.fuzzyKeyPairsMultiBlock(rows, "doc_id", "head",
        blockLen = 8, maxDist = 3, maxBlockRows = Some(3L)).count()
    }
    assert(e.getMessage.contains("maxBlockRows"), e.getMessage)
    // a bound the blocks respect changes nothing vs the unguarded run
    val guarded = Dedup.fuzzyKeyPairsMultiBlock(rows, "doc_id", "head",
      blockLen = 8, maxDist = 3, maxBlockRows = Some(5L))
    val plain = Dedup.fuzzyKeyPairsMultiBlock(rows, "doc_id", "head",
      blockLen = 8, maxDist = 3)
    assert(guarded.collect().toSeq == plain.collect().toSeq)
    // the breaker counts pb and sb PER COLUMN: "abcdefgh" below is the
    // primary block of 3 keys and the secondary block of 3 others —
    // summed that is 6 > 3, but each join sees only 3, so the run is
    // within bound and must NOT abort; 5 NULL keys form a 5-row NULL
    // "block" that an equi-join never matches, so they must not count
    // toward any bound either
    val mixed = (Seq("abcdefghXXXX", "abcdefghYYYY", "abcdefghZZZZ",
        "qqqqqqqqabcdefgh", "wwwwwwwwabcdefgh", "rrrrrrrrabcdefgh")
        .zipWithIndex.map { case (k, i) => (i.toLong, k) } ++
      (10L until 15L).map(i => (i, null.asInstanceOf[String])))
      .toDF("doc_id", "head")
    val bounded = Dedup.fuzzyKeyPairsMultiBlock(mixed, "doc_id", "head",
      blockLen = 8, maxDist = 3, maxBlockRows = Some(3L))
    val unguardedMixed = Dedup.fuzzyKeyPairsMultiBlock(mixed, "doc_id", "head",
      blockLen = 8, maxDist = 3)
    assert(bounded.collect().toSeq == unguardedMixed.collect().toSeq)
  }

  test("fuzzy multi-block property: complete at substitution distance ≤1, sound at maxDist, superset of single-pass (150 random keys)") {
    import spark.implicits._
    // seeded generator — a 6-letter alphabet forces block collisions and
    // ties; key lengths 4..20 cover short (< blockLen), two-block (16),
    // and longer-than-two-blocks (where a substitution past 2·blockLen
    // touches NEITHER block, so both match — still a candidate)
    val rnd = new scala.util.Random(7)
    val alpha = "abcdef"
    def randKey(len: Int) =
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val keys = scala.collection.mutable.ArrayBuffer[String]()
    for (_ <- 0 until 50) {
      val len = 4 + rnd.nextInt(17)
      val base = randKey(len)
      keys += base
      val p = rnd.nextInt(len)
      keys += base.updated(p, alpha((alpha.indexOf(base(p)) + 1) % alpha.length))
      if (rnd.nextBoolean()) { // a 2-substitution cousin: found iff blocked
        val q = rnd.nextInt(len)
        keys += base.updated(p, 'x').updated(q, 'y')
      }
    }
    val ks = keys.toIndexedSeq
    val rows = ks.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("doc_id", "head")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("i", "j").as[(Long, Long)].collect().toSet
    val multi = pairSet(Dedup.fuzzyKeyPairsMultiBlock(rows, "doc_id", "head",
      blockLen = 8, maxDist = 3))
    val single = pairSet(Dedup.fuzzyKeyPairs(rows, "doc_id", "head",
      prefixLen = 8, maxDist = 3))
    // driver-side brute force (the all-pairs plan the operator exists to avoid)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to b.length) {
          val cur = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(b.length)
    }
    // soundness: every surfaced pair truly verifies at ≤ maxDist
    multi.foreach { case (i, j) =>
      assert(lev(ks(i.toInt), ks(j.toInt)) <= 3, s"unsound pair ($i,$j)") }
    // single-pass candidates are a subset (multi unions in the second block)
    assert(single.subsetOf(multi), s"single ⊄ multi: ${single -- multi}")
    // completeness: every pair at SUBSTITUTION distance ≤ 1 (equal length,
    // ≤1 differing position — the pigeonhole guarantee: one substitution
    // cannot change both positional blocks) must be surfaced
    var guaranteed = 0
    for (i <- ks.indices; j <- (i + 1) until ks.size) {
      val (a, b) = (ks(i), ks(j))
      if (a.length == b.length && a.zip(b).count { case (x, y) => x != y } <= 1) {
        guaranteed += 1
        assert(multi.contains((i.toLong, j.toLong)),
          s"missed substitution-dist-≤1 pair ($i,$j): '$a' vs '$b'")
      }
    }
    assert(guaranteed >= 50, s"fixture too weak: only $guaranteed guaranteed pairs")
  }

  test("mixToBudget: integer rate formula, cap at full keep, unlisted strata dropped") {
    import spark.implicits._
    // web: 40 tokens, code: 12 tokens, junk: unlisted ("t t" = 2 tokens
    // under split-on-space; a trailing space would add an empty token)
    val fixture = (0L until 20L).map(i => (i, "web", "t t")) ++
      (20L until 26L).map(i => (i, "code", "t t")) ++
      Seq((40L, "junk", "t t t"))
    val docs = fixture.toDF("doc_id", "source", "text")
    val nTok = T.tokenCount(col("text"))
    val got = Sampling.mixToBudget(docs, "doc_id", "source", nTok,
      budgetTokens = 30L, weightsBps = Map("web" -> 5000, "code" -> 5000))

    // expected rates per the documented integer formula
    val rateWeb = math.min(10000L, (30L * 5000 / 10000) * 10000 / 40)   // 3750
    val rateCode = math.min(10000L, (30L * 5000 / 10000) * 10000 / 12)  // 10000 (cap)
    assert(rateWeb == 3750L && rateCode == 10000L)
    val rates = got.select("source", "rate_bps").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates.get("code").contains(10000L))
    rates.get("web").foreach(r => assert(r == rateWeb))
    assert(!rates.contains("junk"), "unlisted strata must be dropped")

    // membership is exactly the hash rule at the computed rates
    val expect = docs.filter(col("source") =!= "junk")
      .select(col("doc_id"), col("source"),
        pmod(T.polyHash(concat(lit("mix:"), col("doc_id"))), lit(10000L)).as("h"))
      .collect().collect {
        case r if r.getLong(2) < (if (r.getString(1) == "web") rateWeb else rateCode) =>
          r.getLong(0)
      }.toSet
    assert(got.select("doc_id").as[Long].collect().toSet == expect)
    // cap means: every code row kept
    assert(got.filter(col("source") === "code").count() == 6L)
  }

  test("repetitionStats: fractions match hand-computed values on a planted fixture") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a a a b"),        // tokens: a×3,b → top_token 3/4; bigrams (a,a)×2,(a,b) → dup 1/3, top 2/3
      (2L, "x y x y x"),      // top_token 3/5; bigrams (x,y)×2,(y,x)×2 → dup 2/4, top 2/4
      (3L, "unique"),         // 1 token, no bigrams → gram metrics 0.0
      (4L, "p q r s")         // all distinct → top_token 1/4, dup 0, top 1/3
    ).toDF("doc_id", "text")
    val got = Repetition.repetitionStats(fixture, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(1L) == ((4L, 3.0 / 4, 1.0 / 3, 2.0 / 3)))
    assert(got(2L) == ((5L, 3.0 / 5, 2.0 / 4, 2.0 / 4)))
    assert(got(3L) == ((1L, 1.0, 0.0, 0.0)))
    assert(got(4L) == ((4L, 1.0 / 4, 0.0, 1.0 / 3)))
  }

  test("contamination: flagged docs are test-split members with shared shingles") {
    val flagged = Contamination.testSetOverlap(docs, k = 3).collect()
    assert(flagged.nonEmpty, "synthetic corpus should have 3-gram overlap")
    // membership re-derived through the SAME shared helper doc_split uses
    val splits = docs.select(col("doc_id"), T.splitHash(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    flagged.foreach { r =>
      assert(splits(r.getAs[Long]("doc_id")) >= 95, "only test-split docs may be flagged")
      assert(r.getAs[Long]("n_shared") >= 1)
    }
  }

  test("winnowing: coverage guarantee, positional integrity, density bound") {
    val w = 4
    val got = Dedup.winnowingFingerprints(docs, k = 3, w = w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // integrity: each fingerprint is the real shingle hash at that position
    val shMap = docs.select(col("doc_id"),
        posexplode(T.shingleHashes(T.tokenHashes(col("text")), 3)).as(Seq("pos", "h")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
    got.foreach { case (d, p, h) => assert(shMap((d, p)) == h) }
    // coverage: the first fingerprint sits in the first window, and no two
    // consecutive fingerprints are more than w apart — no w-run of
    // shingles escapes the index (the winnowing guarantee)
    got.groupBy(_._1).foreach { case (d, fps) =>
      val ps = fps.map(_._2).sorted.toSeq
      assert(ps.head <= w - 1, s"doc $d first fp at ${ps.head}")
      ps.sliding(2).foreach {
        case Seq(a, b) => assert(b - a <= w, s"doc $d gap $a->$b")
        case _ =>
      }
    }
    // density: selected set is a strict subset of the shingle set, and at
    // least one fingerprint per w windows
    val nWindows = shMap.size - got.groupBy(_._1).size * (w - 1)
    assert(got.length <= shMap.size && got.length.toLong >= nWindows / w)
  }

  test("winnowingMatches: shared-substring pair surfaces, boilerplate guard drops it") {
    val shared = "the quick brown fox jumps over the lazy dog tonight"
    val fixture = Seq(
      (1L, s"intro words here $shared and then some trailing content"),
      (2L, s"completely other opening $shared with different ending text"),
      (3L, "unrelated document about spark shuffle partitions and codegen stages")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowingMatches(fixture, k = 3, w = 4, minShared = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L)),
      s"only the shared-substring pair may surface: $got")
    assert(got((1L, 2L)) >= 2L)
    // guard: every fingerprint of the planted overlap has df 2; cutting
    // df > 1 removes the pair entirely (boilerplate exclusion semantics)
    val guarded = Dedup.winnowingMatches(fixture, k = 3, w = 4,
      minShared = 2L, dfCutoff = Some(1L)).collect()
    assert(guarded.isEmpty)
  }

  test("winnowing theorem: every pair sharing a w+k-1 token run shares a fingerprint") {
    val rnd = new scala.util.Random(13)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(100000)).mkString(" ")
    // 20 planted pairs, each sharing a run of EXACTLY w+k-1 = 6 tokens at
    // random offsets — the guarantee's tight threshold
    val rows = (0 until 20).flatMap { i =>
      val shared = words(6)
      Seq(
        (2L * i, s"${words(rnd.nextInt(8) + 1)} $shared ${words(rnd.nextInt(8) + 1)}"),
        (2L * i + 1, s"${words(rnd.nextInt(8) + 1)} $shared ${words(rnd.nextInt(8) + 1)}"))
    }
    val pairs = Dedup.winnowingMatches(rows.toDF("doc_id", "text"),
        k = 3, w = 4, minShared = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(pairs.contains((2L * i, 2L * i + 1)), s"planted pair $i missing")
    }
  }

  test("ngramNovelty: unique doc scores 1, exact dup scores 0, short doc absent") {
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon"),   // all shingles unique
      (2L, "one two three four five"),          // exact dup of 3
      (3L, "one two three four five"),
      (4L, "one two three four SIX"),           // shares 2 of 3 shingles with 2/3
      (5L, "too short")                         // < k tokens: absent
    ).toDF("doc_id", "text")
    val got = Dedup.ngramNovelty(fixture, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(5L))
    assert(got(1L) == ((3L, 3L, 1.0)))
    assert(got(2L) == ((3L, 0L, 0.0)) && got(3L) == ((3L, 0L, 0.0)))
    // doc 4: shingles (one two three), (two three four) shared; (three four SIX) unique
    assert(got(4L) == ((3L, 1L, 1.0 / 3)))
  }

  test("mixByTemperature: upsamples low-resource strata; alpha=1 is proportional") {
    // web holds 10x wiki's token mass. Ids are SPREAD (i*1013): the
    // polynomial hash maps consecutive ids to consecutive buckets, so a
    // sub-modulus contiguous id range would realize wildly off-rate
    // samples (real corpora have >= 10^4 ids per stratum, where the
    // cyclic bucket walk realizes rates exactly — systematic sampling)
    val fixture = (0L until 110L)
      .map(i => (i * 1013L, if (i < 100) "web" else "wiki", "tok tok tok tok"))
      .toDF("doc_id", "source", "text")
    def rates(alpha: Double): Map[String, Long] =
      Sampling.mixByTemperature(fixture, "doc_id", "source",
          T.tokenCount(col("text")), budgetTokens = 200L, alpha = alpha)
        .select(col("source"), col("rate_bps")).distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val prop = rates(1.0)
    // proportional: both strata keep ~B/total (4545 bps here) modulo the
    // two integer floors in the rate chain
    assert((prop("web") - prop("wiki")).abs <= 100,
      s"alpha=1 must be near-proportional, got $prop")
    val temp = rates(0.7)
    assert(temp("wiki") > temp("web"),
      s"alpha=0.7 must upsample the small stratum, got $temp")
    assert(temp("wiki") > prop("wiki") + 1000,
      s"wiki rate must rise materially vs proportional: $temp vs $prop")
  }

  test("containment contamination: same flagged set, asymmetric score bounds") {
    val exact = Contamination.testSetOverlap(docs, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scored = Contamination.testSetOverlapScored(docs, k = 3).collect()
    assert(scored.map(_.getAs[Long]("doc_id")).toSet == exact.keySet,
      "scored pass must flag exactly the docs the exact pass flags")
    scored.foreach { r =>
      assert(r.getAs[Long]("n_shared") == exact(r.getAs[Long]("doc_id")))
      val c = r.getAs[Double]("containment")
      assert(c > 0.0 && c <= 1.0)
      assert(c == r.getAs[Long]("n_shared").toDouble / r.getAs[Long]("n_test_shingles"))
    }
  }

  test("fuzzy contamination: exactly the cross-split near-dup pairs, verified") {
    val got = Contamination.testSetOverlapFuzzy(docs, k = 3, threshold = 0.5).collect()
    assert(got.nonEmpty, "synthetic corpus should have cross-split near-dups")
    got.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.5))
    // truth: the exact >=0.5 jaccard pairs restricted to test x train —
    // banding recall is 100% on this corpus (pinned by the LSH-recall
    // test above), so the fuzzy pass must surface every one of them
    val splits = docs.select(col("doc_id"), T.splitHash(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("i", "j").as[(Long, Long)].collect()
      .flatMap { case (i, j) => Seq((i, j), (j, i)) }
      .filter { case (t, tr) => splits(t) >= 95 && splits(tr) < 90 }.toSet
    val gotPairs = got.map(r =>
      (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"))).toSet
    assert(gotPairs == truth)
    // the indexed variant (test split vs the PERSISTED train band
    // index — the production decontamination shape) returns the
    // identical rows on the same split
    val withSplit = docs.select(col("doc_id"), col("text"),
      T.splitHash(col("doc_id")).as("h"))
    val train = withSplit.filter(col("h") < 90).select(col("doc_id"), col("text"))
    val test = withSplit.filter(col("h") >= 95).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("contam-bandidx").toString
    val cdir = java.nio.file.Files.createTempDirectory("contam-cstore").toString
    try {
      Dedup.writeBandIndex(train, dir, k = 3)
      CorpusStore.write(train, cdir, nParts = 8)
      val viaIndex = Contamination.testSetOverlapIndexed(
          test, dir, train, threshold = 0.5).collect()
        .map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
          r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toSeq.sorted
      val inline = got.map(r => (r.getAs[Long]("test_id"),
        r.getAs[Long]("train_id"), r.getAs[Long]("inter"),
        r.getAs[Double]("jaccard"))).toSeq.sorted
      assert(viaIndex == inline, s"$viaIndex vs $inline")
      // the fully-stored shape (train bands AND train text at rest):
      // identical rows with no train-corpus-sized input held at all
      val viaStores = Contamination.testSetOverlapIndexed(
          test, dir, cdir, threshold = 0.5).collect()
        .map(r => (r.getAs[Long]("test_id"), r.getAs[Long]("train_id"),
          r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toSeq.sorted
      assert(viaStores == inline, s"$viaStores vs $inline")
    } finally {
      Dedup.rmdir(new java.io.File(dir))
      Dedup.rmdir(new java.io.File(cdir))
    }
  }

  test("spanDupStats: occurrence grain, cross-doc only, short docs absent") {
    val fixture = Seq(
      (1L, "alpha beta gamma delta"),          // spans: abg, bgd(elta)... 2 spans
      (2L, "alpha beta gamma omega"),          // shares span "alpha beta gamma" with 1
      (3L, "alpha beta gamma alpha beta gamma alpha beta gamma"), // shared span ×3 + own repeats
      (4L, "zeta eta theta iota"),             // no cross-doc span
      (5L, "one two")                          // < k tokens: no spans, absent
    ).toDF("doc_id", "text")
    val got = Dedup.spanDupStats(fixture, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 3 tokens: a b g a b g a b g → 7 spans; those equal to "alpha beta
    // gamma" (positions 0,3,6) ARE cross-doc (docs 1,2 have it) and the
    // rolled spans (b g a), (g a b) appear 2×/2× within doc 3 only → not
    // cross-doc. So n_dup_spans = 3.
    assert(got(1L) == ((2L, 1L)))
    assert(got(2L) == ((2L, 1L)))
    assert(got(3L) == ((7L, 3L)))
    assert(got(4L) == ((2L, 0L)))
    assert(!got.contains(5L), "docs shorter than k tokens have no spans")
  }

  test("scrubDupSpans: covered tokens dropped, clean docs verbatim") {
    val fixture = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma omega"),
      (3L, "alpha beta gamma alpha beta gamma alpha beta gamma"),
      (4L, "zeta eta theta iota"),
      (5L, "one two")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubDupSpans(fixture, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((4L, 1L, "delta")))
    assert(got(2L) == ((4L, 1L, "omega")))
    // dup starts 0/3/6 cover every token of the tripled doc
    assert(got(3L) == ((9L, 0L, "")))
    assert(got(4L) == ((4L, 4L, "zeta eta theta iota")))
    // shorter than k: no spans, passes through verbatim
    assert(got(5L) == ((2L, 2L, "one two")))
  }

  test("kmeans: planted clusters recovered, assignment repartition-stable") {
    // 3 tight planted clusters around (0,0), (10,0), (0,10); init uses the
    // 3 smallest ids, one seeded in each cluster
    val pts = Seq(
      (0L, Array(0.1f, 0.0f)), (3L, Array(-0.1f, 0.2f)), (6L, Array(0.0f, -0.2f)),
      (1L, Array(10.1f, 0.1f)), (4L, Array(9.9f, -0.1f)), (7L, Array(10.0f, 0.2f)),
      (2L, Array(0.1f, 10.0f)), (5L, Array(-0.2f, 9.9f)), (8L, Array(0.0f, 10.2f))
    ).toDF("vec_id", "embedding")
    val got = KMeans.lloyd(pts, k = 3, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 3L, 6L).map(got).distinct.size == 1)
    assert(Seq(1L, 4L, 7L).map(got).distinct.size == 1)
    assert(Seq(2L, 5L, 8L).map(got).distinct.size == 1)
    assert(got.values.toSet.size == 3, "three distinct clusters survive")
    val reparted = KMeans.lloyd(pts.repartition(7), k = 3, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reparted == got, "assignment must not depend on partitioning")
  }

  test("scale paths on hostile edge vectors: zero vector, exact dups, antipodes") {
    // both blocking dedups on data with a zero-norm vector (NULL cosine —
    // must pair with nothing), bit-equal duplicates and an antipodal
    // pair: every emitted pair is an all-pairs truth row, cosine value
    // included, emitted once
    val hostile = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),                // zero vector
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)),                // exact duplicate of 1
      (3L, Array(0.9f, 0.1f, 0f, 0f)),            // near-dup of 1/2
      (4L, Array(0f, 1f, 0f, 0f)),
      (5L, Array(0f, 0.95f, 0.05f, 0f)),
      (6L, Array(-1f, 0f, 0f, 0f)),               // antipode of 1
      (7L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val truth = rows(Dedup.embeddingNearDupsAllPairs(hostile, 0.8)).toSet
    val sem = rows(Dedup.semanticNearDups(hostile, k = 3, iters = 2, threshold = 0.8))
      .map(_.drop(1))
    val lsh = rows(Dedup.embeddingNearDupsLsh(hostile, 0.8, nPlanes = 2, nBands = 8))
    for ((name, got) <- Seq("semantic" -> sem, "LSH" -> lsh)) {
      assert(got.toSet.subsetOf(truth), s"$name emitted a non-truth row: ${got.toSet -- truth}")
      assert(got.distinct == got, s"$name emitted a pair twice: $got")
      assert(got.exists(r => r(0) == 1L && r(1) == 2L), s"$name missed the exact duplicate")
      assert(!got.exists(r => r(0) == 0L || r(1) == 0L),
        s"$name paired the zero-norm vector (NULL cosine)")
    }
  }

  test("JSONL round-trip preserves escape-hostile text exactly") {
    val hostile = Seq(
      (1L, "quote \" backslash \\ done", "en"),
      (2L, "newline\nand\ttab", "en"),
      (3L, "unicode: é中😀 end", "fr"),
      (4L, null.asInstanceOf[String], "de"),
      (5L, "{\"looks\":\"like json\"}", "en"))
      .toDF("doc_id", "text", "lang")
    val path = java.nio.file.Files
      .createTempDirectory("jsonl_hostile").toString + "/out"
    try {
      hostile.write.json(path)
      val back = spark.read.schema(hostile.schema).json(path)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      val want = hostile.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      assert(back.toSeq == want.toSeq)
    } finally Dedup.rmdir(new java.io.File(path).getParentFile)
  }

  test("quant9 rounds exact midpoints half-up toward +inf (cross-engine tie rule)") {
    // 0.1494140625 = 153/1024 exactly: ×1e9 is ...062.5, a true midpoint.
    // A DECIMAL(18,9) CAST disagrees across engines there (Spark half-up,
    // DuckDB half-even — one such element shifted a centroid at sf0.1);
    // quant9's floor(x·1e9 + 0.5) must pin 149414063 and its negation
    // -149414062 (floor = toward −inf ⇒ ties toward +inf on both signs).
    val got = Seq(0.1494140625, -0.1494140625, 0.25, 1.0)
      .toDF("x").select(Quant.quant9(col("x")).cast("long")).as[Long].collect()
    assert(got.toSeq == Seq(149414063L, -149414062L, 250000000L, 1000000000L))
  }

  test("outliers: planted far point flagged, tight members and tight cluster clean") {
    // cluster A around (0,0) plus one far member at (0,3); cluster B
    // tight around (10,10)
    val pts = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.1f)),
      (3L, Array(10.0f, 10.0f)), (4L, Array(10.1f, 10.0f)), (5L, Array(10.0f, 10.1f)),
      (6L, Array(0.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    val got = KMeans.outliers(pts, k = 2, iters = 2, factor = 2.0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(4)))).toMap
    assert(got(6L)._2, "the far member must be flagged")
    assert(Seq(0L, 1L, 2L, 3L, 4L, 5L).forall(!got(_)._2),
      s"tight members must not be flagged: $got")
    assert(got(6L)._1 == got(0L)._1, "the far point still belongs to cluster A")
  }

  test("pqRecallAtK: full rescore depth recovers exact top-k; shallow only lowers") {
    val full = Similarity.pqRecallAtK(embs, nQueries = 4, k = 5, rescoreDepth = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(full.keySet == Set(0L, 1L, 2L, 3L))
    // candidates = the whole corpus ⇒ the exact rerank IS the exact top-k
    full.foreach { case (q, rec) => assert(rec == 1.0, s"query $q: $rec") }
    val shallow = Similarity.pqRecallAtK(embs, nQueries = 4, k = 5, rescoreDepth = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    shallow.foreach { case (q, rec) => assert(rec <= full(q)) }
  }

  test("ivfKnn: probing every cell equals brute force; nProbe bounds cells") {
    val exact = Similarity.bruteForceKnn(embs, queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    val allCells = Similarity.ivfKnn(embs, queryId = 0L, k = 10,
      nCells = 8, nProbe = 8).select("vec_id").as[Long].collect().toSeq
    assert(allCells == exact, "nProbe = nCells must reproduce brute force")
    val probed = Similarity.ivfKnn(embs, queryId = 0L, k = 10,
      nCells = 8, nProbe = 2).select("cell").as[Long].collect().toSet
    assert(probed.size <= 2, "results must come from at most nProbe cells")
  }

  test("ivfPqKnn: full probe + deep rescore equals brute force; probe bounds cells") {
    val exact = Similarity.bruteForceKnn(embs, queryId = 0L, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    // probe every cell AND rescore past the corpus size: both index
    // approximations disabled ⇒ must reproduce the exact top-k
    val full = Similarity.ivfPqKnn(embs, queryId = 0L, k = 10,
      nCells = 8, nProbe = 8, rescoreDepth = 100000)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == exact, "nProbe = nCells + deep rescore must be exact")
    val probed = Similarity.ivfPqKnn(embs, queryId = 0L, k = 10,
      nCells = 8, nProbe = 2)
    assert(probed.select("cell").as[Long].collect().toSet.size <= 2,
      "results must come from at most nProbe cells")
    assert(probed.count() == 10)
  }

  test("ivfPqRecallAtK: bounded by IVF-only recall; disabling both approximations is exact") {
    val composed = Similarity.ivfPqRecallAtK(embs, nQueries = 4, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ivfOnly = Similarity.ivfRecallAtK(embs, nQueries = 4, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the composed candidate pool is a subset of the probe membership, so
    // per query the composed recall can never exceed the IVF-only recall
    composed.foreach { case (q, rec) =>
      assert(rec <= ivfOnly(q), s"query $q: composed $rec > ivf ${ivfOnly(q)}")
    }
    val full = Similarity.ivfPqRecallAtK(embs, nQueries = 4, k = 10,
      nCells = 8, nProbe = 8, rescoreDepth = 100000)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    full.foreach { case (q, rec) => assert(rec == 1.0, s"query $q: $rec") }
  }

  test("bm25: zero-match docs score 0, higher tf wins at equal length") {
    val fixture = Seq(
      (1L, "spark spark spark filler filler filler"),
      (2L, "spark filler filler filler filler filler"),
      (3L, "filler filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val got = Ranking.bm25(fixture, Seq("spark")).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.length - 1)).toMap
    assert(got(3L) == 0.0, "no query term → exactly 0.0")
    assert(got(1L) > got(2L), "tf 3 must outscore tf 1 at equal dl")
    assert(got(2L) > 0.0)
  }

  test("pqKnn: ADC candidates + exact rerank track brute-force top-k") {
    val exact = Similarity.bruteForceKnn(embs, 0L, k = 10)
      .select("vec_id").as[Long].collect().toSet
    // sample-initialized codebook (no Lloyd rounds): measured 8/10 recall
    // at rescoreDepth 40 on the testdata — the documented trade of the
    // cross-engine-reproducible codebook; a trained codebook or deeper
    // rescore recovers the rest
    val pq40 = Similarity.pqKnn(embs, 0L, k = 10, rescoreDepth = 40)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.intersect(pq40).size >= 8,
      s"recall ${exact.intersect(pq40).size}/10 at depth 40")
    // deeper rescore converges to exact
    val pq200 = Similarity.pqKnn(embs, 0L, k = 10, rescoreDepth = 200)
      .select("vec_id").as[Long].collect().toSet
    assert(pq200 == exact, s"depth-200 rescore should be exact, got $pq200")
  }

  test("real image payloads decode to true dimensions via ImageIO") {
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val png = imageBytes(37, 23, "png")
    val jpg = imageBytes(64, 48, "jpg")
    val notImage = "just some text bytes".getBytes("UTF-8")
    // sniff-passing but unparseable payloads: ImageIO readers THROW on
    // these — they must degrade to the stub, not kill the task
    val corruptPng = png.take(12) ++ "garbage garbage garbage".getBytes("UTF-8")
    val bmText = "BMI is a measure of body mass used in medicine".getBytes("UTF-8")
    val df = Seq((1L, png), (2L, jpg), (3L, notImage), (4L, corruptPng), (5L, bmText))
      .toDF("doc_id", "content")
    val out = Multimodal.decodeMeta(spark, df).collect()
      .map(m => m.doc_id -> m).toMap
    assert(out(1L).width == 37 && out(1L).height == 23 && out(1L).n_frames == 1)
    assert(out(2L).width == 64 && out(2L).height == 48 && out(2L).n_frames == 1)
    // non-image and undecodable payloads keep the deterministic stub dims
    for (payload <- Seq(3L -> notImage, 4L -> corruptPng, 5L -> bmText)) {
      val (sw, sh, sf) = Multimodal.decodeStub(payload._2)
      assert(out(payload._1).width == sw && out(payload._1).height == sh &&
        out(payload._1).n_frames == sf, s"doc ${payload._1} must use the stub")
    }
  }

  test("real WAV payloads parse to true audio params via javax.sound.sampled") {
    // round-trip: generated PCM16 WAV -> JDK AudioSystem parse
    val wav = Multimodal.wavBytes(sampleRate = 16000, channels = 2, nSamples = 123)
    assert(wav.length == 44 + 123 * 2 * 2)
    assert(Multimodal.decodeAudio(wav).contains((16000L, 2L, 123L)))
    // AIFF written by the JDK itself parses too (in-boundary format)
    val mono = Multimodal.wavBytes(8000, 1, 80)
    assert(Multimodal.decodeAudio(mono).contains((8000L, 1L, 80L)))
    // non-audio payloads are None -> audioMeta degrades to the stub mapping
    assert(Multimodal.decodeAudio("not audio at all".getBytes("UTF-8")).isEmpty)
    val df = Seq((1L, wav), (2L, "text payload".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val out = Multimodal.audioMeta(spark, df).collect().map(a => a.doc_id -> a).toMap
    assert(out(1L).sample_rate == 16000L && out(1L).channels == 2L &&
      out(1L).n_samples == 123L && out(1L).duration_ms == 123L * 1000 / 16000)
    val (sw, sh, sf) = Multimodal.decodeStub("text payload".getBytes("UTF-8"))
    assert(out(2L).sample_rate == sw * 25 + 8000 && out(2L).channels == sh % 2 + 1 &&
      out(2L).n_samples == sf * 1000)
  }

  test("real MJPEG/AVI payloads parse to true dims and frame counts") {
    // round-trip: generated MJPEG-in-AVI -> RIFF walk + ImageIO frame decode
    val avi = Multimodal.aviMjpegBytes(width = 48, height = 40, nFrames = 5)
    assert(Multimodal.decodeVideo(avi).contains((48L, 40L, 5L)))
    // dims come from the FRAME's JPEG bytes, not just the avih header:
    // corrupt the header dims in place and the decode must still be right
    val tampered = avi.clone()
    val avihPos = {
      // find 'avih' and overwrite dwWidth/dwHeight (offsets 32/36 in data)
      val idx = tampered.sliding(4).indexWhere(_.sameElements("avih".getBytes))
      assert(idx > 0, "avih chunk present"); idx
    }
    java.util.Arrays.fill(tampered, avihPos + 8 + 32, avihPos + 8 + 40, 0xee.toByte)
    assert(Multimodal.decodeVideo(tampered).contains((48L, 40L, 5L)),
      "frame-derived dims must win over a corrupt header")
    // truncated payload degrades to None -> decode() falls to the stub
    val truncated = avi.take(avi.length / 2)
    val viaDecode = Multimodal.decode(truncated)
    val frameCount = Multimodal.decodeVideo(truncated).map(_._3)
    assert(frameCount.forall(_ <= 5L), "truncation never inflates frames")
    assert(viaDecode._1 > 0, "decode() totality on truncated AVI")
    // non-AVI RIFF (a WAV) must not be claimed by the video path
    assert(Multimodal.decodeVideo(Multimodal.wavBytes(8000, 1, 10)).isEmpty)
    // end-to-end through the batch pass
    val df = Seq((1L, avi), (2L, "not a video".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val out = Multimodal.decodeMeta(spark, df).collect().map(m => m.doc_id -> m).toMap
    assert(out(1L).width == 48 && out(1L).height == 40 && out(1L).n_frames == 5)
    val (sw, sh, sf) = Multimodal.decodeStub("not a video".getBytes("UTF-8"))
    assert(out(2L).width == sw && out(2L).height == sh && out(2L).n_frames == sf)
    // frameSample over a real video fans out to its true sampled frames
    val fs = Multimodal.frameSample(spark, Seq((7L, avi)).toDF("doc_id", "content"),
      maxFrames = 3).collect()
    assert(fs.map(_.getLong(2)).toSeq == Seq(0L, 2L, 4L),
      s"stride sampling over 5 real frames, got ${fs.toSeq}")
  }

  test("dsirWeights: target-bigram docs score positive, tiny docs drop") {
    // target and raw vocabularies are DISJOINT (verified: zero mixed
    // buckets at 1024 for these words), so every target-doc bucket has
    // c_t = c_raw ⇒ llr = ln((n_raw+B)/(n_t+B)) > 0 and weights split
    // cleanly by slice; one doc is a single token (no bigram at all)
    val corpus = Seq(
      (1L, "alpha beta alpha beta gamma kappa", true),
      (2L, "alpha beta gamma kappa here", true),
      (3L, "delta epsilon zeta eta theta", false),
      (4L, "delta epsilon delta epsilon zeta", false),
      (5L, "solo", false)
    ).toDF("doc_id", "text", "is_en")
    val w = Sampling.dsirWeights(corpus, col("is_en"), nBuckets = 1024)
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(!w.contains(5L), "a <2-token doc has no bigram and drops out")
    assert(w(1L)._2 && w(2L)._2, s"target-slice docs must be selected: $w")
    assert(!w(3L)._2 && !w(4L)._2, s"raw-only docs must not be selected: $w")
    assert(w(1L)._1 > w(2L)._1,
      "more target-bigram mass ⇒ larger weight (c·llr accumulates)")
    // weights are a pure function of the corpus (retry/partitioning-safe)
    val w2 = Sampling.dsirWeights(corpus.repartition(7), col("is_en"), nBuckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.view.mapValues(_._1).toMap === w2)
  }

  test("langId is deterministic and total (every doc gets a code)") {
    val langs = docs.select(T.langId(col("text"))).as[String].collect()
    assert(langs.forall(T.stopwords.map(_._1).toSet))
  }

  test("langId classifies real fixture paragraphs per language (r3 tables)") {
    val fixtures = Seq(
      "en" -> ("the quick brown fox jumps over the lazy dog and then it runs " +
        "away into the forest because it was afraid of the people there"),
      "es" -> ("el perro corre por la calle de la ciudad y los niños juegan en " +
        "el parque porque el día está muy bonito según su madre"),
      "fr" -> ("le chien court dans la rue de la ville et les enfants jouent " +
        "dans le parc parce que le jour est très beau pour tout le monde"),
      "de" -> ("der hund läuft durch die straße der stadt und die kinder " +
        "spielen in dem park weil der tag sehr schön ist für alle menschen"),
      "zh" -> "我 的 朋友 是 一个 很 好 的 人 他 在 中国 的 大 学 学 习 和 工作 了 三 年")
    val df = fixtures.toDF("expected", "text")
    val out = df.select(col("expected"), T.langId(col("text")).as("got")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)}, langId said ${r.getString(1)}"))
  }
}
