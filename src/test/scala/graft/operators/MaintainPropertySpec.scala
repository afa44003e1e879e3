package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.SparkSpec

/** Property-based pin on [[ComponentsArtifact.maintainComponentsArtifact]]
  * (round-11 verdict ask #6): ComponentsCompactSpec drives ONE
  * hand-picked boundary crossing; this property drives randomized
  * append schedules — random increment counts, sizes and contents,
  * with a per-doc chance of carrying the cutoff-floor prefix that
  * makes drift trip at an arbitrary point of the schedule — and
  * asserts after EVERY maintain call that
  *
  *  (a) a generation flip happens exactly when the call reports a
  *      compaction (and never otherwise),
  *  (b) the live clusters + pair count hash-equal a fresh cold build
  *      over the running corpus, and
  *  (c) the meta receipts (n_docs_total + the xxhash64 corpus-of-record
  *      xor) always match the running corpus — i.e. a compaction from
  *      the true history validates by construction at any time.
  *
  * Trials are few (builds are whole-artifact Spark jobs) but each
  * exercises a schedule shape nobody hand-wrote. */
object MaintainPropertySpec extends Properties("maintainComponents") {

  // whole-artifact builds per trial: keep the trial count low and the
  // schedules small — the coverage comes from shape randomness, not
  // volume (100 default trials would run for an hour)
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4).withMaxDiscardRatio(1f)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def tail(seed: Int): String =
    (0 until 12).map(i => s"w${seed}_$i").mkString(" ")

  /** The ComponentsCompactSpec fixture: 16 docs share a 3-token prefix
    * whose shingle sits AT the autoDfCutoff floor (df 16 = cutoff 16),
    * so any ONE more prefixed doc trips the drift flag; 29/30 are a
    * near-dup pair for non-trivial cluster content. */
  private def corpusDocs: DataFrame =
    ((1L to 30L).map { id =>
      val prefix = if (id <= 16L) "edge boiler plate " else ""
      val t = if (id == 30L) tail(29) + " extra" else tail(id.toInt)
      (id, prefix + t)
    }).toDF("doc_id", "text")

  /** One random doc: carries the drift-tripping prefix ~35 % of the
    * time; ~20 % are near-dups of a base doc (tail reuse + suffix) so
    * appends contribute real cross-boundary edges. */
  private case class DocSpec(prefixed: Boolean, nearDupOf: Option[Int], seed: Int)
  private val docGen: Gen[DocSpec] = for {
    pfx <- Gen.prob(0.35)
    nd  <- Gen.option(Gen.choose(17, 29)).flatMap(o =>
             Gen.prob(0.4).map(keep => o.filter(_ => keep)))
    s   <- Gen.choose(1000, 9999)
  } yield DocSpec(pfx, nd, s)

  private val scheduleGen: Gen[(List[List[DocSpec]], Int)] = for {
    n <- Gen.choose(2, 4)
    incs <- Gen.listOfN(n, Gen.choose(0, 3).flatMap(k => Gen.listOfN(k, docGen)))
    // bucket count is a per-artifact property since round 12: random
    // schedules run against non-default layouts too, pinning that the
    // default-bucket binary maintains them end-to-end
    nBuckets <- Gen.oneOf(16, 32, 64)
  } yield (incs, nBuckets)

  private def readClusters(dir: String): Seq[(Long, Long)] =
    spark.read.parquet(ComponentsArtifact.clustersDirOf(dir))
      .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toSeq.sorted

  private def coldOf(docs: DataFrame): (Seq[(Long, Long)], Long) = {
    val dir = Files.createTempDirectory("maintain-prop-cold").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, docs, dir)
      (readClusters(dir), ComponentsArtifact.readMeta(spark, dir).nPairs)
    } finally Dedup.rmdir(new java.io.File(dir))
  }

  /** The same per-row receipt production folds (hash of (doc_id, text),
    * xor'd) — recomputed independently over the running corpus. */
  private def receiptOf(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(doc_id, text))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  property("random append schedules: flip iff tripped, equal to cold and " +
      "receipt-consistent after every step") =
      Prop.forAll(scheduleGen) { case (sched, nBuckets) =>
    val base = Files.createTempDirectory("maintain-prop").toString
    try {
      ComponentsArtifact.buildComponentsArtifactFrom(spark, corpusDocs, base,
        nBuckets)
      var corpus = corpusDocs
      var nextId = 101L
      var ok = true
      for (incSpec <- sched if ok) {
        val rows = incSpec.map { d =>
          val t0 = d.nearDupOf.map(b => tail(b) + " extra2")
            .getOrElse(tail(d.seed))
          val t = (if (d.prefixed) "edge boiler plate " else "") + t0
          val id = nextId; nextId += 1
          (id, t)
        }
        val inc = rows.toDF("doc_id", "text")
        val newCorpus = corpus.unionByName(inc)
        val genBefore = ComponentsArtifact.genDirOf(base)
        val compacted =
          ComponentsArtifact.maintainComponentsArtifact(spark, base, inc, newCorpus)
        val genAfter = ComponentsArtifact.genDirOf(base)
        corpus = newCorpus
        val m = ComponentsArtifact.readMeta(spark, base)
        val bucketsOk = m.nBuckets == nBuckets
        val flipOk = (genAfter != genBefore) == compacted
        val flagOk = !compacted || !m.rebuildRecommended
        val coldEq = (readClusters(base), m.nPairs) == coldOf(corpus)
        val (cnt, xor) = receiptOf(corpus)
        val receiptOk = m.nDocsTotal == cnt && m.docIdXor == xor
        ok = flipOk && flagOk && coldEq && receiptOk && bucketsOk
        if (!ok) System.err.println(s"[maintain-prop] step failed: " +
          s"inc=$rows compacted=$compacted flipOk=$flipOk flagOk=$flagOk " +
          s"coldEq=$coldEq receiptOk=$receiptOk bucketsOk=$bucketsOk meta=$m")
      }
      ok
    } finally Dedup.rmdir(new java.io.File(base))
  }
}
