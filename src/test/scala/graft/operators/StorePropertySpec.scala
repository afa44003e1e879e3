package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import graft.SparkSpec

/** Property-based pin on the EMBEDDING STORE's maintenance lifecycle —
  * the third persisted store gets the same randomized-schedule
  * discipline the shingle artifact (MaintainPropertySpec) and the band
  * index (BandIndexPropertySpec) already have. EmbeddingStoreSpec
  * drives hand-picked shapes (one append + one recluster, one crash
  * recovery); this property drives random interleavings of appends and
  * reclusters — random batch sizes, random `maxFilesPerCell` /
  * `targetFilesPerCell`, random plane count — and
  * asserts after EVERY step that
  *
  *  (a) the store's content equals the running corpus exactly
  *      (recluster moves bytes, never rows — the docstring's
  *      "row content is identical" claim, under schedules nobody
  *      hand-wrote),
  *  (b) the serving probe against the store stays value- and
  *      order-identical to the in-memory operator over the running
  *      corpus (layout maintenance is invisible to queries),
  *  (c) a probe by the most recently appended id answers like the
  *      in-memory operator (appended ids are never missed),
  *  (d) after a recluster, no cell directory exceeds the larger of the
  *      two file bounds (the compaction actually restored the layout).
  *
  * Trials are few (each step is a Spark job plus equality scans); the
  * coverage comes from schedule-shape randomness, not volume — the
  * same trade MaintainPropertySpec documents. */
object StorePropertySpec extends Properties("embeddingStore") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3).withMaxDiscardRatio(1f)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Deterministic unique vector per id: distinct values (no cos-sim
    * ties, so top-k orderings are unambiguous), direction varying with
    * the id so cells spread. */
  private def vec(id: Long): Array[Float] =
    Array.tabulate(8)(i => (math.sin(id * 13.7 + i * 2.3) +
      math.cos(id * 5.1 - i)).toFloat)

  private def frame(ids: Seq[Long]): DataFrame =
    ids.map(id => (id, vec(id), s"l${id % 3}"))
      .toDF("vec_id", "embedding", "label")

  private sealed trait Op
  private case class Append(n: Int) extends Op
  private case class Recluster(maxFiles: Int, target: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 8).map(Append(_)),
    2 -> (for {
      mx <- Gen.choose(1, 4)
      t  <- Gen.choose(1, 2)
    } yield Recluster(mx, t)))

  private val schedGen: Gen[(List[Op], Int)] = for {
    n      <- Gen.choose(2, 5)
    ops    <- Gen.listOfN(n, opGen)
    planes <- Gen.oneOf(2, 3, 4)
  } yield (ops, planes)

  private def storeRows(dir: String): Seq[(Long, Seq[Float])] =
    EmbeddingStore.read(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)

  private def probeOf(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSeq

  private def partFileCounts(dir: String, prefix: String): Seq[Int] = {
    val root = new java.io.File(dir)
    if (!root.isDirectory) Nil
    else root.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(_.listFiles().count(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith(".")))
  }

  property("random append/recluster schedules: content equals corpus, " +
      "probes match the in-memory operator, sidecar never stale") =
      Prop.forAll(schedGen) { case (ops, planes) =>
    val dir = Files.createTempDirectory("store-prop").toString
    try {
      val baseIds: Seq[Long] = (0L until 40L).toVector
      var corpusIds = baseIds
      var nextId = 1000L
      EmbeddingStore.write(frame(baseIds), dir, nPlanes = planes)
      var ok = true
      for (op <- ops if ok) {
        val stepInfo = op match {
          case Append(n) =>
            val ids: Seq[Long] = (nextId until nextId + n).toVector
            nextId += n
            EmbeddingStore.append(frame(ids), dir, nPlanes = planes)
            corpusIds = corpusIds ++ ids
            s"append($n)"
          case Recluster(mx, t) =>
            val drifted = EmbeddingStore.recluster(spark, dir,
              maxFilesPerCell = mx, targetFilesPerCell = t)
            val bound = math.max(mx, t)
            val over = partFileCounts(dir,
              EmbeddingStore.partitionCol + "=").filter(_ > bound)
            ok = ok && over.isEmpty
            s"recluster($mx,$t) drifted=${drifted.size} over=$over"
        }
        val corpus = frame(corpusIds)
        val contentOk = storeRows(dir) ==
          corpusIds.sorted.map(id => (id, vec(id).toSeq))
        val probeOk = probeOf(EmbeddingStore.knnProbe(spark, dir, 0L,
            k = 10, nPlanes = planes)) ==
          probeOf(Similarity.lshKnn(corpus, 0L, 10, planes))
        // a recently-appended id, against the in-memory operator's answer
        val qid = corpusIds.last
        val appendedOk = probeOf(EmbeddingStore.knnProbe(spark, dir, qid, k = 5,
            nPlanes = planes)) ==
          probeOf(Similarity.lshKnn(corpus, qid, 5, planes))
        ok = ok && contentOk && probeOk && appendedOk
        if (!ok) System.err.println(s"[store-prop] step failed: $stepInfo " +
          s"planes=$planes corpus=${corpusIds.size} " +
          s"contentOk=$contentOk probeOk=$probeOk appendedOk=$appendedOk")
      }
      ok
    } finally Dedup.rmdir(new java.io.File(dir))
  }
}
