package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.operators.{ComponentsArtifact, Dedup, EmbeddingStore, Multimodal, Similarity}

/** Declared queries for the training-data pipeline operators (dedup family,
  * similarity search, text analysis, multimodal plumbing) over the
  * `documents` / `embeddings` tables, with DuckDB oracle SQL.
  *
  * Every hash these queries use is portable arithmetic (TextFunctions), so
  * the oracle reproduces signatures/fingerprints bit-for-bit; all floating
  * point goes through exact int arithmetic or identical left-to-right
  * double folds, so doubles are bit-identical too. The oracle SQL for the
  * hashing ops is *generated here* from the same constants as the Spark
  * side — one source of truth, no drift.
  */
object PipelineQueries {

  // ---- DuckDB SQL builders (mirror TextFunctions/VectorFunctions) ----

  private val P = T.HashMod.toString

  /** The composed dedup-pipeline funnel, defined ONCE so pipeline_kept
    * (the kept set) and pipeline_report (the stage sizes) can never
    * drift apart: returns (docs, quality gate, exact keepers, near-dup
    * pair count, clusters, kept). The near-dup graph comes from the
    * SHARED [[componentsArtifact]] — the pipeline family consumes the
    * same one-build-per-corpus-snapshot components table as
    * dedup_clusters / dedup_keep_best, and the pair count is read from
    * the 1-row metadata parquet persisted beside it, so no live pair
    * frame (the single most expensive plan in the corpus) is ever
    * rebuilt here. */
  private def pipelineStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Long, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val t = T.tokens(col("text"))
    val nTok = size(t).cast("long")
    val quality = docs
      .filter(nTok.between(30, 2000) && (size(array_distinct(t)).cast("long") / nTok) > 0.2)
      .select(col("doc_id"))
    val exactKeepers = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
    val nPairs = componentsPairCount(s, d)
    val clusters = componentsArtifact(s, d)
    val kept = Dedup.survivors(
      quality.join(exactKeepers, Seq("doc_id"), "left_semi"), clusters)
    (docs, quality, exactKeepers, nPairs, clusters, kept)
  }

  /** doc_mix contract — ONE definition for both engines: target weights
    * (basis points) and the token budget the mix is computed against. */
  private val MixWeights: Seq[(String, Int)] =
    Seq("src0" -> 4000, "src1" -> 3000, "src2" -> 2000, "src3" -> 1000)
  private val MixBudget: Long = 3000L

  /** The declared queries' SHARED components artifact for the corpus at
    * `d` ([[ComponentsArtifact]]): built once per corpus snapshot into
    * [[componentsArtifactPath]] through [[StreamingQueries.buildOnce]]'s
    * staging + atomic rename, so a concurrent JVM (bench vs verify) can
    * never read a half-written artifact. */
  private[graft] def componentsArtifactDir(s: SparkSession, d: String): String =
    StreamingQueries.buildOnce(componentsArtifactPath(d))(
      ComponentsArtifact.buildComponentsArtifactFrom(s, Tables.documents(s, d), _))

  /** Pure path of the artifact (no build): tmp/graft_components_<params>_<stamp>.
    * `idx8b<N>` names the on-disk format: `idx8` is the one layout
    * [[ComponentsArtifact]] reads and writes (every generation in
    * `gen-<g>/`, epochs in `clusters_v<e>`/`meta_v<e>`, every meta field
    * required), so an artifact cached under an older token is never
    * read as this one — a format change bumps the number and re-paths,
    * and therefore re-builds, the shared artifact. `b<N>` is
    * [[ComponentsArtifact.ShingleBuckets]] itself (ADVICE r10): raising
    * the bucket count at larger scale re-paths the shared artifact by
    * construction, with no manual version bump to forget. */
  private[graft] def componentsArtifactPath(d: String): String = {
    import ComponentsArtifact.{ComponentsK, ComponentsThreshold, ShingleBuckets}
    val params =
      s"k${ComponentsK}t${(ComponentsThreshold * 100).round}autodf_idx8b$ShingleBuckets"
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_components_${params}_" +
        StreamingQueries.sourceStamp(s"$d/documents.parquet")).getAbsolutePath
  }

  private def componentsArtifact(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ComponentsArtifact.clustersDirOf(componentsArtifactDir(s, d)))

  private def componentsPairCount(s: SparkSession, d: String): Long =
    ComponentsArtifact.readMeta(s, componentsArtifactDir(s, d)).nPairs

  /** Increment ids for the incremental-dedup fixtures: corpus id + 1e6,
    * with the disjointness precondition ENFORCED — both the oracle SQL and
    * [[graft.operators.Dedup.incrementalNearDups]]'s contract classify
    * sides by `doc_id >= 1000000`, so a corpus that ever reaches 1e6 rows
    * must fail loudly instead of silently merging an increment doc with
    * its colliding corpus doc. The guard is a row-level raise_error that
    * never fires on valid data, so the oracle needs no mirror. */
  private def incrementId(docId: org.apache.spark.sql.Column) =
    when(docId >= 1000000L, raise_error(lit(
      "incremental fixture precondition violated: corpus doc_id >= 1e6 collides with increment ids")))
      .otherwise(docId + 1000000L).as("doc_id")

  /** BM25 declared-query constants — Ranking.bm25 and the oracle SQL are
    * both driven from these values (one source of truth, no drift). */
  private val Bm25Terms = Seq("spark", "vector", "hash")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** Phrase-search declared-query constant (query and oracle share it);
    * chosen to occur in the testdata at every scale factor. */
  private val PhraseTerms = Seq("scan", "slow", "fast")

  /** Blocklist declared-query constant — the C4-style any-hit drop list;
    * 'dup' hits ~5% of documents at every scale factor (a realistic
    * block rate; a production list is a pure data swap). */
  private val BlocklistTokens = Seq("dup")

  /** doc_blocklist factored for spec access (BlocklistSpec pins the two
    * cross-engine edge cases): ANY-hit drop report per source.
    * n_kept = n_docs − n_blocked deliberately — a NULL text row (tokens
    * → NULL → arrays_overlap NULL → `when` false) is then "not blocked
    * hence kept" on BOTH engines, instead of falling out of both
    * conditional sums on the Spark side while DuckDB's CASE..ELSE
    * keeps it. */
  private[graft] def blocklistReport(docs: DataFrame, tokens: Seq[String]): DataFrame = {
    val hit = arrays_overlap(T.tokens(col("text")), lit(tokens.toArray))
    docs
      .withColumn("blocked", hit)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"))
      .withColumn("n_kept", col("n_docs") - col("n_blocked"))
      .orderBy(col("source"))
  }

  /** The matching DuckDB oracle SQL, generated from the same token list
    * with SQL-escaping (quote doubling) — a future token carrying a
    * quote must not produce malformed oracle SQL while the Spark array
    * literal works fine. */
  private[graft] def blocklistOracleSql(tokens: Seq[String]): String = {
    val listLit = tokens.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN list_has_any(${dTokens("text")}, [$listLit]) THEN 1 ELSE 0 END)::BIGINT AS n_blocked,
       |  count(*)::BIGINT - sum(CASE WHEN list_has_any(${dTokens("text")}, [$listLit]) THEN 1 ELSE 0 END)::BIGINT AS n_kept
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** Power-of-2 token-length bucket boundaries for doc_length_buckets —
    * one source of truth for the Spark CASE chain and the oracle SQL
    * (the corpus' token lengths are 10..99, so 16..128 spans them with
    * headroom; out-of-range lengths clamp to the last bucket). */
  private val LengthBuckets = Seq(16L, 32L, 64L, 128L)

  /** BM25 oracle SQL (shared by doc_bm25 and the hybrid-search fusion).
    * idf float32 round-trip mirrors Ranking.bm25's quantization (libm
    * ln() differs in the last ulp between engines; float collapses it). */
  private lazy val dBm25Sql: String = {
    val (k1, b) = (Bm25K1, Bm25B)
    val tfDefs = Bm25Terms.map(t =>
      s"len(list_filter(string_split(text, ' '), x -> x = '$t'))::BIGINT AS tf_$t").mkString(",\n  ")
    val dfDefs = Bm25Terms.map(t =>
      s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)::BIGINT AS df_$t").mkString(",\n  ")
    val termScores = Bm25Terms.map { t =>
      s"CAST(CAST(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5)) AS FLOAT) AS DOUBLE)" +
      s" * ((CAST(tf_$t AS DOUBLE) * ${k1 + 1.0}) / (CAST(tf_$t AS DOUBLE) + $k1 * " +
      s"(${1.0 - b} + $b * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
    }.mkString(" + ")
    s"""WITH bmb AS (SELECT doc_id,
       |  len(string_split(text, ' '))::BIGINT AS dl,
       |  $tfDefs
       |  FROM documents),
       |bms AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
       |  $dfDefs
       |  FROM bmb)
       |SELECT doc_id, dl, ${Bm25Terms.map(t => s"tf_$t").mkString(", ")},
       |  $termScores AS score
       |FROM bmb, bms ORDER BY doc_id""".stripMargin
  }

  /** Polynomial rolling hash of a string expression. */
  private def dPoly(v: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($v, ''), pc -> ascii(pc)::BIGINT)), (pa, px) -> (pa*31 + px) % $P)"

  private def dTokens(v: String): String = s"string_split($v, ' ')"

  /** Per-token polynomial hashes (mirror of TextFunctions.tokenHashes). */
  private def dTokenHashes(text: String): String =
    s"list_transform(${dTokens(text)}, tk2 -> ${dPoly("tk2")})"

  /** Shingle hashes combined from a token-hash list expression `ths`
    * (mirror of TextFunctions.shingleHashes). */
  private def dShingleHashes(ths: String, k: Int): String = {
    val combined = (0 until k).map(o => s"($ths)[si+${o + 1}]")
      .reduceLeft((acc, th) => s"(($acc * 8191 + $th) % $P)")
    s"list_transform(range(len($ths) - ${k - 1}), si -> $combined)"
  }

  /** MinHash signature over a shingle-hash list expression. */
  private def dMinhashSig(shs: String): String =
    s"list_transform(range(${T.MinhashK}), mj -> list_reduce(list_prepend(${Long.MaxValue}::BIGINT, " +
    s"list_transform(list_distinct($shs), ms -> ((31*mj + 1251) * ms + 17*mj + 7397) % $P)), (ma, mx) -> least(ma, mx)))"

  /** CTEs producing the winnowing selection (mirror of
    * Dedup.winnowingFingerprints at k=3, w=4): wsel = distinct
    * (doc_id, mpk) where mpk packs the window-min (hash·2²⁰ + pos). */
  private val dWinnowCtes: String =
    s"""wn0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM documents),
       |wns AS (SELECT doc_id, ${dShingleHashes("ths", 3)} AS shs FROM wn0),
       |wnp0 AS (SELECT doc_id, unnest(list_transform(range(len(shs)),
       |           wi -> shs[wi+1] * 1048576 + wi)) AS pk FROM wns),
       |wnp AS (SELECT doc_id, (pk % 1048576)::BIGINT AS pos, pk FROM wnp0),
       |wnm AS (SELECT doc_id, pos, min(pk) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mpk FROM wnp),
       |wsel AS (SELECT DISTINCT doc_id, mpk FROM wnm WHERE pos >= 3)""".stripMargin

  /** CTEs producing per-doc MinHash signatures (token hashes → shingle
    * hashes → signature; same staging as Dedup.minhashSignatures). */
  private val dSigCtes: String =
    s"""ths AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM documents),
       |shs AS (SELECT doc_id, ${dShingleHashes("ths", 3)} AS shs FROM ths),
       |sig AS (SELECT doc_id, ${dMinhashSig("shs")} AS sig FROM shs
       |       WHERE len(shs) > 0)""".stripMargin

  /** Left-fold double dot product of two list expressions. */
  private def dDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(len($a)), di -> ($a)[di+1]::DOUBLE * ($b)[di+1]::DOUBLE)), (da, dx) -> da + dx)"

  private def dCos(a: String, b: String): String =
    s"(${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)})))"

  /** Multi-band random-hyperplane LSH buckets of a list expression
    * (LshBands plane formula: w_g[i] = ((g·len + i)·1103515245 + 12345)
    * mod 2039 − 1019, g = band·nPlanes + plane). */
  private def dLshBands(v: String, nPlanes: Int, nBands: Int): String =
    s"list_transform(range($nBands), zb -> list_reduce(list_prepend(0::BIGINT, " +
    s"list_transform(range($nPlanes), zj -> CASE WHEN " +
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(len($v)), zi -> " +
    s"($v)[zi+1]::DOUBLE * ((((zb*$nPlanes + zj)*len($v) + zi) * 1103515245::BIGINT + 12345) % 2039 - 1019)::DOUBLE)), " +
    s"(za, zx) -> za + zx) > 0 THEN (1::BIGINT << zj) ELSE 0::BIGINT END)), (zc, zd) -> zc + zd))"

  /** Single-band LSH bucket (band 0 of dLshBands — VectorFunctions.lshBucket). */
  private def dLshBucket(v: String, nPlanes: Int = 4): String =
    s"(${dLshBands(v, nPlanes, 1)})[1]"

  /** 62-bit SimHash per doc, group-by formulation (avoids triple-nested
    * lambdas). Lower 31 fingerprint bits are voted by remix xa, upper 31 by
    * xb — the Simhash62 expression's exact arithmetic. */
  private val dSimhashCte: String =
    s"""tok AS (SELECT doc_id, unnest(${dTokens("text")}) AS tk FROM documents),
       |ph AS (SELECT doc_id, ${dPoly("tk")} AS x FROM tok),
       |ph2 AS (SELECT doc_id, (x * 8191 + 127) % 2147483647 AS xa, (x * 8209 + 257) % 2147483647 AS xb FROM ph),
       |bits AS (SELECT doc_id, br.r AS b,
       |         sum(CASE WHEN (CASE WHEN br.r < 31 THEN xa >> br.r ELSE xb >> (br.r - 31) END) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |         FROM ph2, range(${T.SimhashBits}) br(r) GROUP BY doc_id, br.r),
       |sim AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
       |        FROM bits GROUP BY doc_id)""".stripMargin

  /** 60-bit packed shingle ids (mirror of TextFunctions.shingleIds). */
  private def dShingleIds(ths: String, k: Int): String = {
    def fold(mult: Int) = (0 until k).map(o => s"($ths)[si+${o + 1}]")
      .reduceLeft((acc, th) => s"(($acc * $mult + $th) % $P)")
    s"list_transform(range(len($ths) - ${k - 1}), si -> ${fold(8191)} * $P + ${fold(8209)})"
  }

  /** Midpoint-safe fixed-point quantization to integer 1e-9 units
    * (mirror of Quant.quant9): floor(x·1e9 + 0.5) is IEEE double
    * arithmetic both engines evaluate bit-identically, where a raw
    * DECIMAL(18,9) CAST rounds exact midpoints half-up in Spark but
    * half-even in DuckDB. Summed as DECIMAL(38,0) — exact, order-free,
    * and scale-0 decimals convert to double with a single rounding. */
  private def dQ9(expr: String): String =
    s"CAST(floor(($expr) * 1000000000.0 + 0.5) AS DECIMAL(38,0))"

  /** Squared-L2 left fold between two double-list expressions (mirror of
    * KMeans.dist2). */
  private def dD2(e: String, c: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(len($e)), ki -> " +
    s"(($e)[ki+1] - ($c)[ki+1]) * (($e)[ki+1] - ($c)[ki+1]))), (ka, kx) -> ka + kx)"

  /** CTEs running two deterministic Lloyd iterations over `embeddings`
    * (k = 8, smallest-id init): kc1 = trained centroids, ka2 = final
    * assignment rows (vec_id, cid, d2, rn; rn = 1 is the argmin).
    * Mirrors KMeans.{initCentroids,assign,update} stage for stage. */
  private val dKmeansCtes: String =
    s"""kme AS (SELECT vec_id, list_transform(embedding, kx -> kx::DOUBLE) AS e FROM embeddings),
       |kc0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS cent
       |        FROM (SELECT vec_id, e FROM kme ORDER BY vec_id LIMIT 8)),
       |kd1 AS (SELECT m.vec_id, m.e, c.cid, ${dD2("m.e", "c.cent")} AS d2 FROM kme m, kc0 c),
       |ka1 AS (SELECT vec_id, e, cid, d2,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM kd1),
       |km1 AS (SELECT vec_id, e, cid FROM ka1 WHERE rn = 1),
       |kcomp AS (SELECT cid, unnest(range(len(e))) AS dim, unnest(e) AS v FROM km1),
       |kup AS (SELECT cid, dim,
       |        CAST(sum(${dQ9("v")}) AS DOUBLE) / 1000000000.0 / CAST(count(*) AS DOUBLE) AS mv
       |        FROM kcomp GROUP BY cid, dim),
       |kc1 AS (SELECT cid, list(mv ORDER BY dim) AS cent FROM kup GROUP BY cid),
       |kd2 AS (SELECT m.vec_id, c.cid, ${dD2("m.e", "c.cent")} AS d2 FROM kme m, kc1 c),
       |ka2 AS (SELECT vec_id, cid, d2,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM kd2)""".stripMargin

  /** Shared CTEs for n-gram Jaccard pairs at threshold 0.5 (join on the
    * 8-byte shingle id, as the Spark side does). */
  private val dJaccardCtes: String =
    s"""jths AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM jths),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inters AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
       |           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT i, j, inter, inter::DOUBLE / (sa.n + sb.n - inter) AS jaccard
       |          FROM inters JOIN sizes sa ON i = sa.doc_id JOIN sizes sb ON j = sb.doc_id
       |          WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.5)""".stripMargin

  // ---- declared queries ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_token_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"),
        size(array_distinct(T.tokens(col("text")))).cast("long").as("n_uniq_tokens"),
        T.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        col("n_chars"))
        .orderBy(col("doc_id"))),

    // C4-style blocklist filter: a document containing ANY blocked token
    // is dropped (Raffel et al. 2020 §2.2 dropped pages on a bad-word
    // list); the kept set plus a per-source drop report in one pass.
    // arrays_overlap against a broadcast literal list — scan-bound, no
    // shuffle before the report's aggregate. NULL-text and quote-token
    // edge cases pinned by BlocklistSpec.
    "doc_blocklist" -> ((s, d) =>
      blocklistReport(Tables.documents(s, d), BlocklistTokens)),

    // length-bucketed batching: power-of-2 token-length buckets and the
    // padding overhead each would pay — the batch-shape economics of
    // training on variable-length sequences. The bucket boundary is an
    // integer CASE chain from shared constants (no float log2 at the
    // boundaries), so both engines bucket identically
    "doc_length_buckets" -> ((s, d) => {
      val nTok = T.tokenCount(col("text")).cast("long")
      val bucketTop = LengthBuckets.foldRight(
          lit(LengthBuckets.last): Column) { (b, acc) =>
        when(col("n_tokens") <= b, lit(b)).otherwise(acc)
      }
      Tables.documents(s, d)
        .select(col("doc_id"), nTok.as("n_tokens"))
        .withColumn("bucket_top", bucketTop)
        .groupBy(col("bucket_top"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          (sum(col("bucket_top") - col("n_tokens")).cast("double") /
            sum(col("bucket_top")).cast("double")).as("pad_overhead"))
        .orderBy(col("bucket_top"))
    }),

    "doc_quality" -> ((s, d) => {
      val t = T.tokens(col("text"))
      val nTok = size(t).cast("long")
      // Σ len(token) computed WITHOUT a per-element fold: split on a
      // single-char separator reconstructs text as join(tokens, ' '), so
      // len(text) = Σ len(token) + (n − 1) EXACTLY (empty tokens from
      // doubled/edge spaces contribute 0 and still cost one separator) —
      // pure codegen arithmetic where the aggregate(transform(...)) HOF
      // was CodegenFallback and took the scan stage out of codegen
      val sumLen = length(col("text")).cast("long") - nTok + lit(1L)
      Tables.documents(s, d).select(
        col("doc_id"),
        nTok.as("n_tokens"),
        (size(array_distinct(t)).cast("long") / nTok).as("uniq_ratio"),
        (sumLen / nTok).as("avg_token_len"),
        (T.stopwordHits(col("text"), T.stopwords.toMap.apply("en")).cast("long") / nTok).as("stop_ratio"),
        (nTok.between(30, 2000) &&
          (size(array_distinct(t)).cast("long") / nTok) > 0.2).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Token-distribution (unigram) entropy per doc — the repetitiveness /
    // diversity signal quality pipelines threshold on. Fully distributed:
    // one explode + two hash aggs, NO per-doc sorted-list folds — the
    // summation is made order-independent by quantizing each c·ln(c) term
    // to Quant.quant9 fixed-point units (ln itself float32-collapsed
    // first: libm last-ulp variance across engines, the dBm25Sql idf
    // treatment), so partial aggregation order can't perturb the sum at
    // any partitioning. Uses H = ln(n) − (Σ c·ln c)/n, which needs only
    // per-(doc,token) counts.
    "doc_entropy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tc = docs
        .select(col("doc_id"), explode(T.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("c"))
      val clnc = graft.operators.Quant.quant9(col("c").cast("double") *
        log(col("c").cast("double")).cast("float").cast("double"))
      tc.groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(clnc).as("sclnc"))
        .select(col("doc_id"), col("n_tokens"), col("vocab"),
          (log(col("n_tokens").cast("double")).cast("float").cast("double") -
            graft.operators.Quant.q9ToDouble(col("sclnc")) /
              col("n_tokens").cast("double"))
            .cast("float").as("entropy"))
        .orderBy(col("doc_id"))
    }),

    "doc_langid" -> ((s, d) => {
      val langs = T.stopwords.sortBy(_._1)
      val scores = langs.map { case (code, set) =>
        T.stopwordHits(col("text"), set).cast("long").as(s"s_$code")
      }
      // predicted re-derives from the ALREADY-COMPUTED score columns in a
      // second projection (a fold over 5 small ints) — calling
      // T.langId(text) here would re-tokenize per language inside a
      // conditional branch, which Spark's subexpression elimination
      // cannot share with the score columns (measured 4x on this query)
      val first = struct(col(s"s_${langs.head._1}").as("score"),
        lit(langs.head._1).as("code"))
      val folded = langs.tail.foldLeft(first) { case (best, (code, _)) =>
        val cand = struct(col(s"s_$code").as("score"), lit(code).as("code"))
        when(cand.getField("score") > best.getField("score"), cand).otherwise(best)
      }.getField("code")
      Tables.documents(s, d)
        .select(col("doc_id") +: scores: _*)
        .withColumn("predicted",
          when(col(s"s_${langs.head._1}").isNotNull, folded))
        .orderBy(col("doc_id"))
    }),

    "doc_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        // a NULL text has no fingerprint — absent on both engines (the
        // oracle's inner join against the token-derived sim CTE drops it)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"), T.tokenHashes(col("text")).as("phs"))
        .select(
          col("doc_id"),
          md5(col("text")).as("md5_hash"),
          T.polyHash(col("text")).as("poly_hash"),
          T.simhashFromHashes(col("phs")).as("simhash"))
        .orderBy(col("doc_id"))),

    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),

    // guard armed via the auto cutoff: hash-proven output-neutral on this
    // corpus at every SF (the oracle SQL is the unguarded join)
    "dedup_ngram_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5,
        dfCutoff = Some(Dedup.autoDfCutoff(docs)))
    }),

    // sig is declared dash-joined (not array<long>): the harness canonicalizes
    // result columns with pandas sort_values, which cannot order ndarray cells.
    "dedup_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), k = 3)
        .select(col("doc_id"), concat_ws("-", col("sig")).as("sig"))
        .orderBy(col("doc_id"))),

    "dedup_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), k = 3, threshold = 0.5)),

    // banding-scheme quality measurement: recall of the LSH pair list vs
    // the exact >=0.5-jaccard truth set + candidate-generation precision
    "dedup_lsh_eval" -> ((s, d) =>
      Dedup.minhashEval(Tables.documents(s, d), k = 3, threshold = 0.5)),

    // per-pair sketch accuracy: signature Jaccard estimate vs exact
    "dedup_minhash_est" -> ((s, d) =>
      Dedup.minhashEstimates(Tables.documents(s, d), k = 3, threshold = 0.5)),

    // dataset card: per-source / per-lang / global corpus summary in one
    // Expand pass (grouping sets), the provenance table a training run
    // publishes next to its mixture weights
    "doc_dataset_card" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"),
          T.tokenCount(col("text")).cast("long").as("nt"), col("n_chars"))
        .groupingSets(
          Seq(Seq(col("source")), Seq(col("lang")), Seq.empty),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
            .as("avg_chars"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("n_tokens"), col("avg_chars"))
        .orderBy(col("source"), col("lang"))),

    // cluster resolution over the >=0.5-jaccard pair list: every paired doc
    // labeled with its component's min doc_id (the kept survivor)
    "dedup_clusters" -> ((s, d) =>
      componentsArtifact(s, d).orderBy(col("doc_id"))),

    // dedup-impact report over those clusters: the cluster-SIZE histogram
    // (singletons included via coalesce-to-self) — the number a curation
    // run quotes ("how much of the corpus is duplicated, in what clump
    // sizes") and the sanity check that near-dup pressure matches
    // expectations before committing a survivor policy. Reads the same
    // persisted artifact; two bounded aggregates on top
    "dedup_cluster_sizes" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      docs.join(componentsArtifact(s, d), Seq("doc_id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // survivor POLICY over those clusters: keep the highest-quality copy
    // (distinct-token ratio, ties by doc_id) instead of the min id —
    // quality-aware dedup at doc grain, singletons kept by construction.
    // Reads the SAME persisted components artifact dedup_clusters
    // resolves — one pair-generation + union-find per corpus snapshot,
    // however many policies consume it
    "dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val t = T.tokens(col("text"))
      Dedup.keepBestSurvivors(docs, componentsArtifact(s, d),
        size(array_distinct(t)).cast("long") / size(t).cast("long"))
    }),

    "dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.documents(s, d), maxDist = 1)),

    // record-linkage fuzzy matching: 24-char lowercased head as the
    // bounded key, 8-char prefix blocking (equi-join, never all-pairs),
    // exact Levenshtein ≤ 3 verification — typo-tolerant near-equality,
    // the string cousin of the simhash pigeonhole pairs
    "dedup_fuzzy_pairs" -> ((s, d) =>
      Dedup.fuzzyKeyPairs(
        Tables.documents(s, d)
          .select(col("doc_id"), substring(lower(col("text")), 1, 24).as("head")),
        "doc_id", "head", prefixLen = 8, maxDist = 3)),

    // the recall remedy: first-8 OR second-8 positional block (two
    // equi-joins unioned — POSITIONAL, not suffix-anchored: see
    // fuzzyKeyPairsMultiBlock's docstring for why last-8 diverges),
    // pigeonhole-guaranteed for distance-1 pairs on two-block keys —
    // a superset of dedup_fuzzy_pairs by construction
    "dedup_fuzzy_pairs_mp" -> ((s, d) =>
      Dedup.fuzzyKeyPairsMultiBlock(
        Tables.documents(s, d)
          .select(col("doc_id"), substring(lower(col("text")), 1, 16).as("head")),
        "doc_id", "head", blockLen = 8, maxDist = 3)),

    // exact (identical output to the all-pairs oracle SQL) but planned as
    // IVF cell-pair equi-joins — no BroadcastNestedLoopJoin at any scale
    "dedup_embedding_pairs" -> ((s, d) =>
      Dedup.embeddingNearDupsExact(Tables.embeddings(s, d), threshold = 0.45)),

    "dedup_embedding_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupsLsh(Tables.embeddings(s, d), threshold = 0.45)),

    "emb_knn" -> ((s, d) =>
      Similarity.bruteForceKnn(Tables.embeddings(s, d), queryId = 0L, k = 10)),

    // diversity-aware selection: distributed relevance pass, bounded
    // driver-side greedy (the m=32 candidate set), selection order gated
    "emb_mmr" -> ((s, d) =>
      Similarity.mmrTopK(Tables.embeddings(s, d), queryId = 0L, k = 10, m = 32)),

    // the batch retrieval shape: top-5 for each of 8 queries from ONE
    // corpus scan, two-stage skew-free top-k (never |corpus| rows onto
    // one query-id reducer)
    "emb_knn_join" -> ((s, d) =>
      Similarity.knnJoin(Tables.embeddings(s, d), nQueries = 8, k = 5)),

    "emb_knn_lsh" -> ((s, d) =>
      Similarity.lshKnn(Tables.embeddings(s, d), queryId = 0L, k = 10)),

    "emb_knn_lsh_mp" -> ((s, d) =>
      Similarity.lshKnnMultiProbe(Tables.embeddings(s, d), queryId = 0L, k = 10)),

    "emb_knn_quant" -> ((s, d) =>
      Similarity.quantizedKnn(Tables.embeddings(s, d), queryId = 0L, k = 10)),

    // the at-rest IVF layout end to end: write the corpus partitioned by
    // LSH cell, then probe it multi-probe (Hamming ≤ 1 neighbor cells) —
    // the scan carries a partition filter (EmbeddingStoreSpec proves the
    // pruning); the oracle recomputes the same cells over the flat table.
    // The store write is part of the query on purpose: bench times the
    // full write+probe cycle, and reruns stay idempotent via Overwrite.
    "emb_knn_store" -> ((s, d) => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_emb_store_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      EmbeddingStore.write(Tables.embeddings(s, d), path, nPlanes = 4)
      EmbeddingStore.knnProbe(s, path, queryId = 0L, k = 10, nPlanes = 4, maxFlips = 1)
        .select(col("vec_id"), col("label"),
          col("bucket").cast("long").as("bucket"), col("cos_sim"))
    }),

    // the store's MAINTENANCE path under the same hash gate: 60% written,
    // four appended increments (deterministic cell routing), drifted cells
    // reclustered in place — the probe must be indistinguishable from the
    // one-shot store's, which is exactly what sharing its oracle asserts
    "emb_knn_store_incr" -> ((s, d) => {
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_emb_store_incr_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      val embs = Tables.embeddings(s, d)
      // the initial Overwrite write clears any prior run's directory;
      // two 20% appends fragment every cell past the compaction bound
      EmbeddingStore.write(embs.filter(col("vec_id") % 5 < 3), path, nPlanes = 4)
      (3 to 4).foreach(m =>
        EmbeddingStore.append(embs.filter(col("vec_id") % 5 === m), path, nPlanes = 4))
      EmbeddingStore.recluster(s, path, maxFilesPerCell = 2)
      EmbeddingStore.knnProbe(s, path, queryId = 0L, k = 10, nPlanes = 4, maxFlips = 1)
        .select(col("vec_id"), col("label"),
          col("bucket").cast("long").as("bucket"), col("cos_sim"))
    }),

    // product-quantized two-stage kNN: 8 codes/vector at rest (32× smaller
    // than float32), ADC candidate scan, exact rerank — the oracle rebuilds
    // codebook, encoding, LUT and both stages from the same deterministic
    // definition (sample codebook = sub-vectors of vec_id < 256)
    "emb_knn_pq" -> ((s, d) =>
      Similarity.pqKnn(Tables.embeddings(s, d), queryId = 0L, k = 10)),

    "emb_norms" -> ((s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"), col("label"),
        V.norm2(col("embedding")).as("norm2"),
        size(col("embedding")).cast("long").as("n_dims"))
        .orderBy(col("vec_id"))),

    // deterministic distributed k-means (2 Lloyd iterations, smallest-id
    // init): broadcast-assign + decimal-sum centroid update, the IVF/PQ
    // training primitive under the hash gate
    "emb_kmeans" -> ((s, d) =>
      graft.operators.KMeans.lloyd(Tables.embeddings(s, d), k = 8, iters = 2)),

    // distance-to-centroid outlier prune over those clusters: flagged iff
    // dist2 > 1.05x the cluster's mean dist2 (DECIMAL-sum mean, IEEE
    // compare). 1.05 because high-dim random vectors concentrate: the
    // corpus' max ratio is ~1.10, so a textbook 2x would flag nothing —
    // the factor is a per-corpus measurement, like every sketch knob
    "emb_outliers" -> ((s, d) =>
      graft.operators.KMeans.outliers(Tables.embeddings(s, d),
        k = 8, iters = 2, factor = 1.05)),

    // topic-balanced subsampling over those clusters: each cluster capped
    // at 32 survivors picked by salted-hash order — the diversity
    // rebalancing step of an embedding-aware curation pipeline, every
    // vector emitted with its kept/dropped verdict
    "emb_balanced_sample" -> ((s, d) =>
      graft.operators.Sampling.clusterBalancedSample(
        Tables.embeddings(s, d), k = 8, iters = 2, quota = 32)),

    // IVF probe over those trained cells: route the query to its nProbe=2
    // nearest centroids, scan only their cells, exact-cosine rerank
    "emb_knn_ivf" -> ((s, d) =>
      Similarity.ivfKnn(Tables.embeddings(s, d), queryId = 0L, k = 10,
        nCells = 8, nProbe = 2, iters = 2)),

    // IVF+PQ composed (the FAISS IVFPQ layout): k-means cells bound WHICH
    // vectors the probe touches, PQ codes bound what each one COSTS —
    // ADC-scan only the probed cells' codes, exact rerank of the top 40
    "emb_knn_ivfpq" -> ((s, d) =>
      Similarity.ivfPqKnn(Tables.embeddings(s, d), queryId = 0L, k = 10,
        nCells = 8, nProbe = 2, iters = 2, subspaces = 8, rescoreDepth = 40)),

    // exact vocabulary top-k: explode -> partially-aggregated count ->
    // TakeOrdered, deterministic (count desc, token asc) cut
    "doc_vocab" -> ((s, d) =>
      graft.operators.Frequency.vocabTopK(Tables.documents(s, d), k = 20)),

    // heavy hitters: per-partition Misra-Gries candidate sketch (bounded
    // memory, no shuffle) + exact recount of candidates only — the
    // declared set {token : cnt*64 > n} is deterministic, the sketch
    // only bounds pass-2 cost
    "doc_heavy_hitters" -> ((s, d) =>
      graft.operators.Frequency.heavyHitters(Tables.documents(s, d), k = 64)),

    // count-min sketch with its one-sided guarantee audited in-query:
    // counters are order-independent sums, so the full estimates sit
    // under the hash gate (w=16 forces real collisions on the testdata)
    "doc_cms" -> ((s, d) =>
      graft.operators.Frequency.cmsEstimates(Tables.documents(s, d))),

    // top principal direction by power iteration: one scan per step,
    // matrix-vector product as exact nano-unit BIGINT component sums,
    // broadcast 1-row vector state — the embedding-anisotropy primitive
    "emb_pca" -> ((s, d) =>
      graft.operators.Pca.topDirection(Tables.embeddings(s, d), iters = 2)),

    // PageRank over the n-gram near-dup graph: centrality as the keeper
    // signal beyond min-id; edge-join + per-destination nano-unit sums.
    // sorted = false: pageRank consumes the pairs as an EDGE SET and the
    // lazy pipeline replicates the pair subtree per reference (sym, deg,
    // per-iteration contribs), so the declared pair query's deterministic
    // sort tail would execute several times over — EliminateSorts does
    // NOT remove it under this plan (verified in the r16 before-plan:
    // rangepartitioning(i, j) appears once per reference). Output is
    // unchanged: pageRank's nano-unit sums are order-insensitive and it
    // applies its own terminal orderBy(doc_id).
    "graph_pagerank" -> ((s, d) =>
      graft.operators.GraphOps.pageRank(
        graft.operators.Dedup.ngramJaccardPairs(Tables.documents(s, d),
          k = 3, threshold = 0.5, sorted = false).select(col("i"), col("j")),
        iters = 2)),

    // RAG-style overlapping token-window chunking: pure per-row explode,
    // trailing chunk short rather than padded
    "doc_chunks" -> ((s, d) =>
      graft.operators.Packing.chunkWindows(Tables.documents(s, d),
        window = 32, stride = 24)),

    // hybrid retrieval: BM25 rank + dense cosine rank fused by RRF —
    // integer ranks through a fixed arithmetic tree, no score-scale mixing
    "doc_hybrid_search" -> ((s, d) =>
      graft.operators.Ranking.hybridSearch(Tables.documents(s, d),
        Tables.embeddings(s, d), Bm25Terms, queryId = 0L, k = 20)),

    // trainable quality classifier: logistic regression by gradient
    // descent as pure dataflow — one corpus scan per iteration, weights
    // chained as broadcast 1-row frames, gradients reduced as exact
    // nano-unit BIGINT sums (partitioning-invariant)
    "doc_quality_model" -> ((s, d) =>
      graft.operators.Classifier.trainLogReg(Tables.documents(s, d),
        iters = 2, lr = 0.5)),

    // BPE merge training: distributed word-frequency scan + bounded
    // driver merge loop (the HF-tokenizers/SentencePiece split); the
    // oracle replays all 6 rounds in generated SQL, CTE for CTE
    "doc_bpe_merges" -> ((s, d) =>
      graft.operators.Bpe.train(Tables.documents(s, d), nMerges = 6)),

    // tokenizer APPLY: train 6 merges, encode the corpus with them — the
    // real token counts a budgeted pipeline mixes/packs on; per-word fold
    // runs at the distinct-word grain, not per occurrence
    "doc_bpe_encode" -> ((s, d) =>
      graft.operators.Bpe.trainAndEncode(Tables.documents(s, d), nMerges = 6)),

    // tokenizer-efficiency report: the encode counts rolled up per
    // source — bytes-per-token is THE fitness number a tokenizer is
    // judged by (and the denominator a token-budgeted mix converts
    // through); exact integer sums, one IEEE division per group
    "doc_bpe_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .join(graft.operators.Bpe.trainAndEncode(docs, nMerges = 6), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          (sum(col("n_chars")).cast("double") /
            sum(col("n_tokens")).cast("double")).as("chars_per_token"))
        .orderBy(col("source"))
    }),

    // weighted sampling without replacement (Efraimidis–Spirakis):
    // 100 docs drawn proportional to token mass, deterministically —
    // inclusion is a pure function of (salt, doc_id, weight), so any
    // engine redraws the identical sample
    "doc_sample_weighted" -> ((s, d) =>
      graft.operators.Sampling.weightedSample(
        Tables.documents(s, d)
          .select(col("doc_id"), T.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", col("n_tokens"), n = 100)
        .select(col("doc_id"), col("n_tokens"), col("w_key"))),

    // signed feature hashing: vocabulary-free 64-dim integer hash
    // embeddings from the portable token hashes — no fit pass, no OOV,
    // reproducible from the hash definition alone
    "doc_hash_embed" -> ((s, d) =>
      graft.operators.Frequency.hashEmbed(Tables.documents(s, d), dims = 64)),

    // TF-IDF at the sparse long grain against the corpus-derived top-10
    // vocabulary; idf float32-quantized, all else exact integers
    "doc_tfidf" -> ((s, d) =>
      graft.operators.Frequency.tfIdf(Tables.documents(s, d), vocabSize = 10)),

    // exact phrase search over a positional inverted index: postings
    // filtered to the phrase terms before any shuffle, occurrences as the
    // m-way (doc, start)-aligned equi-join intersection — pure integers
    "doc_phrase_search" -> ((s, d) =>
      graft.operators.Ranking.phraseSearch(Tables.documents(s, d), PhraseTerms)),

    // CCNet-style LM quality: corpus-trained char-bigram model (broadcast,
    // <= |alphabet|^2 rows), per-doc cross-entropy via one scan + one
    // (doc_id, bigram)-grain aggregate; ln quantized through float32 and
    // summed as DECIMAL so the score is bit-portable
    "doc_perplexity" -> ((s, d) =>
      graft.operators.LangModel.crossEntropy(Tables.documents(s, d))),

    // SemDeDup-style semantic dedup: deterministic k-means clusters as the
    // blocking structure, pairs generated by a hash equi-join on the
    // cluster id only (never corpus²), exact cosine on the survivors
    "dedup_semantic" -> ((s, d) =>
      graft.operators.Dedup.semanticNearDups(Tables.embeddings(s, d),
        k = 8, iters = 2, threshold = 0.45)),

    // sequence packing: concat-and-chunk token offsets + context-window
    // bins via the distributed prefix sum (range partition → local cumsum
    // → bounded driver prefix), NOT a single-partition global window; the
    // oracle is the plain window cumsum the operator must reproduce
    "doc_pack" -> ((s, d) =>
      graft.operators.Packing.packOffsets(Tables.documents(s, d), capacity = 2048L)),

    // decontamination: test-split docs sharing a verbatim k-gram with the
    // train split (same hash split as doc_split; train index = distinct
    // 60-bit shingle ids; one equi-join, no cross product)
    "doc_contamination" -> ((s, d) =>
      graft.operators.Contamination.testSetOverlap(Tables.documents(s, d), k = 3)),

    // containment-scored decontamination: |test ∩ train| / |test| — the
    // asymmetric score that catches short benchmark items quoted inside
    // long train docs (symmetric jaccard stays low there by construction)
    "doc_contamination_containment" -> ((s, d) =>
      graft.operators.Contamination.testSetOverlapScored(
        Tables.documents(s, d), k = 3)),

    // fuzzy decontamination: test docs NEAR-duplicating a train doc
    // (MinHash band candidates against the train band index, exact
    // jaccard verify) — catches paraphrased leakage the verbatim k-gram
    // collision above misses
    "doc_contamination_fuzzy" -> ((s, d) =>
      graft.operators.Contamination.testSetOverlapFuzzy(
        Tables.documents(s, d), k = 3, threshold = 0.5)),

    // dedup-aware novelty: fraction of each doc's shingles with corpus
    // df = 1 — the keeper/sampling bias signal next to the removal ops
    "doc_ngram_novelty" -> ((s, d) =>
      graft.operators.Dedup.ngramNovelty(Tables.documents(s, d), k = 3)),

    // winnowing fingerprints (MOSS): min-hash of every 4-shingle sliding
    // window as an integer min over hash*2^20+pos — the coverage-
    // guaranteed substring-level fingerprint index at ~2/(w+1) density
    "doc_winnowing" -> ((s, d) =>
      graft.operators.Dedup.winnowingFingerprints(
        Tables.documents(s, d), k = 3, w = 4)),

    // cross-doc matches over that index: pairs sharing >= 2 selected
    // fingerprints, one equi-join on fp_hash — MOSS pair ranking
    "doc_winnowing_matches" -> ((s, d) =>
      graft.operators.Dedup.winnowingMatches(
        Tables.documents(s, d), k = 3, w = 4, minShared = 2L)),

    // span-grain cross-document dedup stats: every k-token span occurrence
    // that also appears verbatim in another document (suffix-array-style
    // substring dedup signal, occurrence grain — within-doc repeats of a
    // cross-doc span all count)
    "doc_span_dedup" -> ((s, d) =>
      graft.operators.Dedup.spanDupStats(Tables.documents(s, d), k = 3)),

    // BM25 relevance over the corpus: exact integer tf/df/dl through a
    // fixed float tree; one scan + a broadcast 1-row stats aggregate
    "doc_bm25" -> ((s, d) =>
      graft.operators.Ranking.bm25(Tables.documents(s, d), Bm25Terms,
        k1 = Bm25K1, b = Bm25B)),

    // the removal half of span dedup: tokens covered by any cross-doc
    // duplicated span are dropped, rewrite gated on the scrubbed text hash
    "doc_span_scrub" -> ((s, d) =>
      graft.operators.Dedup.scrubDupSpans(Tables.documents(s, d), k = 3)),

    // incremental exact dedup: the daily-batch shape at 100 TB — dedup
    // the increment against the persisted corpus content index, never
    // re-dedup the corpus. The corpus has no exact dups, so the query
    // DERIVES an increment from a hash-chosen 20% of docs (new ids):
    // a tenth collapse to one shared boilerplate text (within-increment
    // dups), half keep their original text (killed by the index
    // anti-join), the rest get genuinely new text (survivors)
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val inc = docs.filter(T.splitHash(col("doc_id"), "inc") >= 80)
        .select(incrementId(col("doc_id")),
          when(pmod(col("doc_id"), lit(10L)) === 1, lit("boilerplate page v2"))
            .when(pmod(col("doc_id"), lit(2L)) === 0, col("text"))
            .otherwise(concat(col("text"), lit(" v2"))).as("text"))
      graft.operators.Dedup.incrementalExact(
        inc, graft.operators.Dedup.exactIndex(docs))
    }),

    // incremental NEAR-dup detection: increment bands vs the corpus band
    // index, exact-jaccard verified. Fixture mirrors dedup_incremental:
    // a hash-chosen 20% becomes the increment (new ids) — half near-dup
    // copies of their corpus source (two appended tokens, jaccard ≈
    // 0.97), half genuinely fresh short texts the verify must reject if
    // they ever band-collide
    "dedup_incremental_near" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val inc = docs.filter(T.splitHash(col("doc_id"), "incn") >= 80)
        .select(incrementId(col("doc_id")),
          when(pmod(col("doc_id"), lit(2L)) === 1,
            concat(lit("fresh "), col("lang"), lit(" page about topic "),
              col("doc_id").cast("string")))
            .otherwise(concat(col("text"), lit(" tail note"))).as("text"))
      val corpus = docs.select(col("doc_id"), col("text"))
      // the band index is built here because the oracle needs it derived
      // from the same table at query time; in production it is the
      // persisted artifact
      graft.operators.Dedup.incrementalNearDups(
        inc, graft.operators.Dedup.bandIndex(corpus, k = 3),
        corpus, k = 3, threshold = 0.5)
    }),

    // C4-style PII redaction. The synthetic corpus carries no PII, so the
    // query PLANTS deterministic addresses/IPs/SSNs derived from row data
    // (varying presence: emails on 1/3 of docs, SSNs on 1/2, IPs on all)
    // — a no-op scrub would be a vacuous green row. The gate is the
    // portable hash of the fully scrubbed text plus per-kind match
    // counts; scrubbing itself is pure codegen'd string work in the scan
    // stage, zero shuffle
    "doc_pii_scrub" -> ((s, d) => {
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          concat(lit(" reach user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        lit(" from 10."), pmod(col("doc_id"), lit(200L)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(250L)).cast("string"),
        when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit(" ssn 123-45-"),
            lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
          .otherwise(lit("")))
      Tables.documents(s, d)
        .filter(col("text").isNotNull) // no text, nothing to scrub (oracle mirrors)
        .select(col("doc_id"), planted.as("pt"))
        .select(col("doc_id"),
          regexp_count(col("pt"), lit(T.EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("pt"), lit(T.Ipv4Re)).cast("long").as("n_ips"),
          regexp_count(col("pt"), lit(T.SsnRe)).cast("long").as("n_ssns"),
          T.polyHash(T.scrubPii(col("pt"))).as("scrub_hash"))
        .orderBy(col("doc_id"))
    }),

    // deterministic global training-order shuffle: md5 order key +
    // distributed prefix-sum positions (256 uniform hash-byte ranges)
    "doc_shuffle" -> ((s, d) =>
      graft.operators.Packing.shuffledOrder(Tables.documents(s, d))
        .select(col("pos"), col("doc_id"), col("source"))
        .orderBy(col("pos"))),

    // ANN recall measurement: recall@10 of the multi-probe LSH retrieval
    // vs the exact top-10 over 8 held-out queries — the full recall
    // values sit under the hash gate (both rankings are deterministic)
    "emb_recall" -> ((s, d) =>
      graft.operators.Similarity.lshRecallAtK(Tables.embeddings(s, d))),

    // same measurement for the IVF path: nProbe=2 of 8 trained cells
    "emb_ivf_recall" -> ((s, d) =>
      graft.operators.Similarity.ivfRecallAtK(Tables.embeddings(s, d))),

    // PQ retrieval recall@10 over the same held-out queries — every ANN
    // family (LSH, IVF, PQ) now carries its measured per-corpus recall
    "emb_pq_recall" -> ((s, d) =>
      graft.operators.Similarity.pqRecallAtK(Tables.embeddings(s, d))),

    // recall of the COMPOSED IVF+PQ index (emb_knn_ivfpq's retrieval):
    // bounded by both the probe's cell coverage and the ADC fidelity —
    // the number a deployment of the composed layout actually ships with
    "emb_ivfpq_recall" -> ((s, d) =>
      graft.operators.Similarity.ivfPqRecallAtK(Tables.embeddings(s, d))),

    // token-budget dataset mixing: per-source keep rates derived from
    // target weights + corpus token mass (integer arithmetic end-to-end),
    // then the deterministic hash filter — the oracle recomputes the
    // rates from the same constants and must land on identical kept sets
    "doc_mix" -> ((s, d) =>
      graft.operators.Sampling.mixToBudget(Tables.documents(s, d),
          "doc_id", "source", T.tokenCount(col("text")),
          budgetTokens = MixBudget, weightsBps = MixWeights.toMap)
        .groupBy(col("source"), col("rate_bps"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))
        .orderBy(col("source"))),

    // temperature-scaled mixture: weights derived from corpus stats
    // (∝ tot^0.7, float32-quantized pow then pure integer arithmetic)
    // instead of hand-specified — the low-resource upsampling recipe
    "doc_mix_temperature" -> ((s, d) =>
      graft.operators.Sampling.mixByTemperature(Tables.documents(s, d),
          "doc_id", "source", T.tokenCount(col("text")),
          budgetTokens = MixBudget, alpha = 0.7)
        .groupBy(col("source"), col("rate_bps"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("tokens_kept"))
        .orderBy(col("source"))),

    // deterministic mixture control: rate-based stratified sample (pure
    // codegen'd filter, membership a function of doc_id — never
    // sample()'s partitioning-dependent RNG)
    "doc_sample_rate" -> ((s, d) =>
      graft.operators.Sampling.stratifiedByRate(Tables.documents(s, d),
          "doc_id", "lang", Map("en" -> 5000, "de" -> 2500), defaultBps = 1000)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    // fixed reproducible quota per stratum (smallest-hash rows, one keyed
    // window parallel across strata)
    "doc_sample_quota" -> ((s, d) =>
      graft.operators.Sampling.stratifiedQuota(Tables.documents(s, d),
          "doc_id", "lang", quota = 20)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))),

    // Gopher-style repetition filters: top-token fraction, duplicated-
    // bigram fraction, top-bigram fraction per doc — counted at the
    // 8-byte hash-id grain via two map-side-combinable explode→agg
    // passes, never a per-doc O(len²) HOF mode
    "doc_repetition" -> ((s, d) =>
      graft.operators.Repetition.repetitionStats(Tables.documents(s, d), k = 2)),

    // deterministic 90/5/5 train/val/test assignment: hash of the doc id
    // string, never sample() — reproducible across engines, runs, and
    // cluster sizes, and any engine can recompute membership from the id
    "doc_split" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), T.splitHash(col("doc_id")).as("h"))
        .select(col("doc_id"),
          when(col("h") < 90, "train").when(col("h") < 95, "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))),

    // int8 scalar quantization: the 4x-at-rest storage form of the corpus.
    // codes flattened for the harness; cosine of the dequantized vector
    // against the original measures the information actually lost.
    // recon is materialized in its own select step: Catalyst does not CSE
    // lambda subexpressions, so inlining dequantize8 into the three cosine
    // branches would rebuild the vector 3x per row
    "emb_quantize" -> ((s, d) =>
      V.withQuantized(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
        .select(col("vec_id"), col("emb"), col("scale"), col("codes"),
          V.dequantize8(col("codes"), col("scale")).as("recon"))
        .select(
          col("vec_id"), col("scale"),
          concat_ws("-", col("codes")).as("codes"),
          // scale 0 = zero vector: reconstruction is trivially perfect,
          // and 0/0 would diverge between engines (NaN vs NULL)
          when(col("scale") === 0.0, lit(1.0))
            .otherwise(V.cosine(col("emb"), col("recon"))).as("recon_cos"))
        .orderBy(col("vec_id"))),

    // THE training-data pipeline, composed end-to-end: quality gate →
    // exact-dedup keeper → near-dup cluster survivor. What remains is the
    // kept corpus a pretraining run would read.
    // per-stage observability for the composed dedup pipeline: the size
    // of every funnel stage in one row (total -> quality gate -> exact
    // keepers -> near-dup pairs -> clustered docs -> final kept) — the
    // run report a production pipeline publishes alongside its output.
    // n_near_pairs comes from the components artifact's metadata parquet
    // (persisted at build time) and clusters from its parquet — the heavy
    // shingle-join + union-find runs ONCE per corpus snapshot across the
    // whole dedup/pipeline family, never per report
    "pipeline_report" -> ((s, d) => {
      val (docs, quality, exactKeepers, nPairs, clusters, kept) = pipelineStages(s, d)
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
        .crossJoin(exactKeepers.agg(count(lit(1)).as("n_exact_keepers")))
        .withColumn("n_near_pairs", lit(nPairs))
        .crossJoin(clusters.agg(count(lit(1)).as("n_clustered")))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
        .select(col("n_docs"), col("n_quality"), col("n_exact_keepers"),
          col("n_near_pairs"), col("n_clustered"), col("n_kept"))
    }),

    "pipeline_kept" -> ((s, d) =>
      pipelineStages(s, d)._6
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // the multimodal_* oracles hardcode decodeStub's arithmetic, so the
    // declared queries pin the stub decoder explicitly — parity must not
    // hinge on text payloads always failing the ImageIO parse. The real
    // decode path is spec-covered (MultimodalSpec, generated PNG).
    "multimodal_meta" -> ((s, d) =>
      Multimodal.decodeMeta(s, Tables.documents(s, d), Multimodal.decodeStub)
        .toDF().orderBy(col("doc_id"))),

    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizePlan(s, Tables.documents(s, d), box = 224,
        decoder = Multimodal.decodeStub)),

    "multimodal_frames" -> ((s, d) =>
      Multimodal.frameSample(s, Tables.documents(s, d), maxFrames = 4,
        decoder = Multimodal.decodeStub)),

    "multimodal_features" -> ((s, d) =>
      Multimodal.featureExtract(s, Tables.documents(s, d),
        decoder = Multimodal.decodeStub)),

    // REAL audio decode under the hash gate: per-doc WAV payloads are
    // synthesized with params derived from doc_id (the fixture-cert
    // pattern ct_ingest_pipeline uses for X.509), then parsed BACK by the
    // JDK's actual audio reader — sample_rate/channels/n_samples in the
    // output come from javax.sound.sampled, not from the generator, so a
    // header-layout or parse bug breaks the row
    "multimodal_audio" -> ((s, d) => {
      val wav = udf((id: Long) => Multimodal.wavBytes(
        8000 * (1 + (id % 3).toInt), 1 + (id % 2).toInt, 50 + (id % 200).toInt))
      Multimodal.audioMeta(s,
          Tables.documents(s, d).select(col("doc_id"))
            .withColumn("content", wav(col("doc_id"))))
        .toDF().orderBy(col("doc_id"))
    }),

    // DSIR importance weighting (Sampling.dsirWeights): every doc scored
    // by hashed-bigram log-likelihood ratio of the English target slice
    // vs the full raw corpus; the oracle recomputes the same 1024-bucket
    // model and the same decimal-quantized weights
    "doc_dsir" -> ((s, d) =>
      graft.operators.Sampling
        .dsirWeights(Tables.documents(s, d), col("lang") === "en")
        .orderBy(col("doc_id"))),

    // Replica-equality fingerprint: per-group row count + an
    // order-independent checksum (exact decimal sum of portable
    // polynomial row hashes, folded mod 2^62). The migration/backup
    // validation primitive at 100 TB: two sides each compute their own
    // checksum locally and compare a handful of group rows — no data
    // movement, no row-by-row diff; a single divergent row flips the
    // group's checksum. Only integer/string columns feed the canonical
    // row string (double formatting is engine-specific; integer-valued
    // doubles enter via exact BIGINT cast).
    "q53_table_checksum" -> ((s, d) => {
      val rowStr = concat_ws("|",
        col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long"))
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), T.polyHash(rowStr).cast("decimal(20,0)").as("h"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          pmod(sum(col("h")), lit(4611686018427387904L).cast("decimal(20,0)"))
            .cast("long").as("checksum"))
        .orderBy(col("l_returnflag"))
    }),

    // JSONL round-trip — the interchange format LLM corpora actually
    // ship in: write the documents table as schema'd JSON lines
    // (Jackson-escaped), read it back with an explicit schema (no
    // inference scan at scale), and the result must equal the parquet
    // original row for row. Distributed on both sides: one file per
    // partition out, parallel line-splittable scan back. Escape-hostile
    // content (quotes/newlines/tabs/backslashes/unicode/nulls) is pinned
    // by the spec; the declared query gates the real corpus.
    "doc_jsonl_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_jsonl_" + Integer.toHexString(d.hashCode)).getAbsolutePath
      docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).json(path)
      s.read.schema(docs.schema).json(path)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // KMV theta sketch (custom TypedImperativeAggregate, KmvSketch.scala):
    // bounded k-smallest-distinct-hash state with map-side partial
    // aggregation, supporting the set op HLL (q52) cannot do —
    // INTERSECTION estimation (common values below the combined theta,
    // Beyer et al. 2007). Sets: customers with orders ∩ customers in
    // arrears. Over the portable polynomial hash, so the oracle rebuilds
    // the sketch value-for-value and even the ESTIMATES are hash-gated
    // (vs q52's within-tolerance booleans). k=64 < |sets| at sf0.01
    // exercises the estimation path; sf0.001's arrears set (<64)
    // exercises the exhaustive-exact path.
    "q56_theta_sketch" -> ((s, d) => {
      import graft.expressions.KmvSketch.kmvSketch
      val kk = 64
      val M = 1000000007.0
      // LCG-mix the polynomial hash: raw polyHash of short key strings is
      // small and clustered, and KMV's (k−1)/θ estimator needs (near-)
      // uniform values on [0, M) — the affine spread is portable integer
      // arithmetic (no overflow: (M−1)·1103515245 < 2^63)
      def mix(h: org.apache.spark.sql.Column) =
        pmod(h * lit(1103515245L) + lit(12345L), lit(1000000007L))
      val hA = Tables.orders(s, d)
        .select(mix(T.polyHash(col("o_custkey").cast("string"))).as("h"))
      val hB = Tables.customer(s, d).filter(col("c_acctbal") < 0)
        .select(mix(T.polyHash(col("c_custkey").cast("string"))).as("h"))
      val sk = hA.agg(kmvSketch(col("h"), kk).as("sk_a"))
        .crossJoin(hB.agg(kmvSketch(col("h"), kk).as("sk_b")))
      val exactInter = Tables.orders(s, d).select(col("o_custkey").as("ck"))
        .distinct()
        .join(Tables.customer(s, d).filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("ck")), Seq("ck"), "left_semi")
        .agg(count(lit(1)).as("exact_inter"))
      def thM(c: org.apache.spark.sql.Column) =
        when(size(c) < kk, lit(1000000007L)).otherwise(element_at(c, kk))
      def est(c: org.apache.spark.sql.Column) = when(size(c) < kk, size(c).cast("double"))
        .otherwise(lit((kk - 1).toDouble) /
          (element_at(c, kk).cast("double") / lit(M)))
      val merged = slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, kk)
      val thMin = least(thM(col("sk_a")), thM(col("sk_b")))
      val common =
        size(filter(array_intersect(col("sk_a"), col("sk_b")), _ < thMin))
      sk.crossJoin(exactInter).select(
        est(col("sk_a")).as("est_a"),
        est(col("sk_b")).as("est_b"),
        est(merged).as("est_union"),
        (common.cast("double") / (thMin.cast("double") / lit(M)))
          .as("est_inter"),
        common.cast("long").as("n_common"),
        col("exact_inter"))
    }),

    // REAL video decode under the hash gate (the multimodal_audio
    // treatment for the third modality): per-doc MJPEG/AVI payloads
    // synthesized with doc_id-derived params, then parsed BACK by the
    // RIFF walker — width/height come from ImageIO's decode of the first
    // frame's actual JPEG bytes and n_frames from counting movi chunks,
    // so a container-layout or JPEG-roundtrip bug breaks the row. Only a
    // 10% deterministic sample carries video (payload generation is the
    // cost; the decode path is what's under test); capped at 500 rows
    // so the fixture work doesn't balloon with SF.
    "multimodal_video" -> ((s, d) => {
      val avi = udf((id: Long) => Multimodal.aviMjpegBytes(
        32 + (id % 5).toInt * 16, 24 + (id % 3).toInt * 16, 1 + (id % 7).toInt))
      val docs = Tables.documents(s, d)
        .select(col("doc_id")).filter(col("doc_id") % 10 === 0)
        .orderBy(col("doc_id")).limit(500)
      Multimodal.decodeMeta(s, docs.withColumn("content", avi(col("doc_id"))))
        .toDF()
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"))
        .orderBy(col("doc_id"))
    })
  )

  // ---- oracle SQL ----

  def oracleSql: Map[String, String] = Map(
    "doc_token_stats" ->
      s"""SELECT doc_id, len(${dTokens("text")})::BIGINT AS n_tokens,
         |  len(list_distinct(${dTokens("text")}))::BIGINT AS n_uniq_tokens,
         |  len(regexp_extract_all(text, '${T.BpeTokenRegex}'))::BIGINT AS n_bpe_tokens,
         |  n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    // generated from BlocklistTokens via blocklistOracleSql — same list
    // literal both engines, SQL-escaped; see blocklistReport's NULL note
    "doc_blocklist" -> blocklistOracleSql(BlocklistTokens),

    // CASE chain generated from LengthBuckets — identical boundaries
    "doc_length_buckets" -> {
      val arms = LengthBuckets.map(b => s"WHEN n_tokens <= $b THEN $b")
        .mkString("\n    ")
      s"""WITH lb AS (
         |  SELECT doc_id, len(${dTokens("text")})::BIGINT AS n_tokens
         |  FROM documents),
         |lbb AS (
         |  SELECT n_tokens,
         |    (CASE $arms ELSE ${LengthBuckets.last} END)::BIGINT AS bucket_top
         |  FROM lb)
         |SELECT bucket_top, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens)::BIGINT AS sum_tokens,
         |  CAST(sum(bucket_top - n_tokens) AS DOUBLE) / CAST(sum(bucket_top) AS DOUBLE) AS pad_overhead
         |FROM lbb GROUP BY bucket_top ORDER BY bucket_top""".stripMargin
    },

    "doc_quality" -> {
      val nTok = s"len(${dTokens("text")})::BIGINT"
      val nUniq = s"len(list_distinct(${dTokens("text")}))::BIGINT"
      val sumLen = s"list_reduce(list_prepend(0::BIGINT, list_transform(${dTokens("text")}, at -> length(at)::BIGINT)), (aa, ax) -> aa + ax)"
      val stops = T.stopwords.toMap.apply("en").map(w => s"'$w'").mkString(", ")
      val nStop = s"len(list_filter(${dTokens("lower(text)")}, qt -> qt IN ($stops)))::BIGINT"
      s"""SELECT doc_id, $nTok AS n_tokens,
         |  $nUniq / $nTok AS uniq_ratio,
         |  $sumLen / $nTok AS avg_token_len,
         |  $nStop / $nTok AS stop_ratio,
         |  ($nTok BETWEEN 30 AND 2000) AND ($nUniq / $nTok > 0.2) AS keep
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // same structure: per-(doc,token) counts, decimal-quantized c·ln(c)
    // terms (ln float32-collapsed), H = ln(n) − Σ/n — see the Spark side
    "doc_entropy" ->
      s"""WITH etok AS (
         |  SELECT doc_id, unnest(${dTokens("text")}) AS token FROM documents),
         |etc AS (
         |  SELECT doc_id, token, count(*)::BIGINT AS c
         |  FROM etok GROUP BY doc_id, token),
         |eds AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
         |    sum(${dQ9("CAST(c AS DOUBLE) * CAST(CAST(ln(CAST(c AS DOUBLE)) AS FLOAT) AS DOUBLE)")}) AS sclnc
         |  FROM etc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, vocab,
         |  CAST(CAST(CAST(ln(CAST(n_tokens AS DOUBLE)) AS FLOAT) AS DOUBLE)
         |       - CAST(sclnc AS DOUBLE) / 1000000000.0 / CAST(n_tokens AS DOUBLE) AS FLOAT) AS entropy
         |FROM eds ORDER BY doc_id""".stripMargin,

    "doc_langid" -> {
      val langs = T.stopwords.sortBy(_._1)
      val scoreCols = langs.map { case (code, set) =>
        val words = set.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(${dTokens("lower(text)")}, qt -> qt IN ($words)))::BIGINT AS s_$code"
      }.mkString(",\n  ")
      // first-maximal-in-alphabetical-order (mirrors TextFunctions.langId fold)
      val codes = langs.map(_._1)
      val caseArms = codes.init.zipWithIndex.map { case (c, idx) =>
        val rest = codes.drop(idx + 1).map(o => s"s_$c >= s_$o").mkString(" AND ")
        s"WHEN $rest THEN '$c'"
      }.mkString("\n    ")
      s"""SELECT doc_id, s_${codes.mkString(", s_")},
         |  CASE WHEN s_${codes.head} IS NULL THEN NULL
         |    $caseArms ELSE '${codes.last}' END AS predicted
         |FROM (SELECT doc_id, $scoreCols FROM documents) t
         |ORDER BY doc_id""".stripMargin
    },

    "doc_fingerprint" ->
      s"""WITH $dSimhashCte
         |SELECT d.doc_id, md5(d.text) AS md5_hash, ${dPoly("d.text")} AS poly_hash, sim.simhash
         |FROM documents d JOIN sim ON d.doc_id = sim.doc_id ORDER BY d.doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,

    "dedup_ngram_pairs" ->
      s"""WITH $dJaccardCtes
         |SELECT i, j, inter, jaccard FROM pairs ORDER BY i, j""".stripMargin,

    "dedup_minhash_sig" ->
      s"""WITH $dSigCtes
         |SELECT doc_id, array_to_string(sig, '-') AS sig FROM sig ORDER BY doc_id""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $dJaccardCtes,
         |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // Efraimidis–Spirakis keys rebuilt arithmetic-for-arithmetic: exact
    // integer hash → one IEEE division → float32-collapsed ln → one IEEE
    // division by the weight
    "doc_sample_weighted" -> {
      val h = dPoly("'wsample:' || CAST(doc_id AS VARCHAR)")
      s"""WITH ws AS (SELECT doc_id, len(${dTokens("text")})::BIGINT AS n_tokens,
         |    CAST(ln(($h + 1) / 1000000008.0) AS FLOAT)::DOUBLE AS lnu
         |  FROM documents)
         |SELECT doc_id, n_tokens, lnu / n_tokens AS w_key
         |FROM ws ORDER BY w_key DESC, doc_id LIMIT 100""".stripMargin
    },

    // the same bucket/sign arithmetic in exact integers; the dense
    // 64-vector rebuilt per doc on a generated dim spine
    "doc_hash_embed" ->
      s"""WITH th AS (SELECT doc_id, unnest(${dTokenHashes("text")}) AS h FROM documents),
         |hb AS (SELECT doc_id, h % 64 AS b,
         |    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS s FROM th),
         |hv AS (SELECT doc_id, b, sum(s)::BIGINT AS v FROM hb GROUP BY 1, 2),
         |grid AS (SELECT d.doc_id, dim.d
         |  FROM (SELECT DISTINCT doc_id FROM th) d,
         |       (SELECT unnest(range(64)) AS d) dim),
         |filled AS (SELECT g.doc_id, g.d, coalesce(hv.v, 0) AS val
         |  FROM grid g LEFT JOIN hv ON g.doc_id = hv.doc_id AND g.d = hv.b)
         |SELECT doc_id, string_agg(val, ',' ORDER BY d) AS vec
         |FROM filled GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // first-8 ∪ second-8 positional blocking (UNION dedups), same DP;
    // the 16-char key splits into exactly two 8-char blocks
    "dedup_fuzzy_pairs_mp" ->
      """WITH fk AS (SELECT doc_id, substring(lower(text), 1, 16) AS head,
        |    substring(lower(text), 1, 8) AS pb,
        |    substring(lower(text), 9, 8) AS sb FROM documents),
        |cand AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, a.head AS ka, b.head AS kb
        |  FROM fk a JOIN fk b ON a.pb = b.pb AND a.doc_id < b.doc_id
        |  UNION
        |  SELECT a.doc_id, b.doc_id, a.head, b.head
        |  FROM fk a JOIN fk b ON a.sb = b.sb AND a.doc_id < b.doc_id)
        |SELECT i, j, levenshtein(ka, kb)::BIGINT AS dist
        |FROM cand WHERE levenshtein(ka, kb) <= 3
        |ORDER BY i, j""".stripMargin,

    // identical blocking + the same classic integer edit-distance DP
    "dedup_fuzzy_pairs" ->
      """WITH fk AS (SELECT doc_id, substring(lower(text), 1, 24) AS head,
        |    substring(lower(text), 1, 8) AS block FROM documents)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |  levenshtein(a.head, b.head)::BIGINT AS dist
        |FROM fk a JOIN fk b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 3
        |ORDER BY i, j""".stripMargin,

    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $dJaccardCtes,
         |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |hcl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a),
         |hall AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
         |         FROM documents d LEFT JOIN hcl c ON d.doc_id = c.doc_id),
         |hsz AS (SELECT cluster_id, count(*) AS sz FROM hall GROUP BY cluster_id)
         |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
         |  sum(sz)::BIGINT AS n_docs
         |FROM hsz GROUP BY sz ORDER BY cluster_size""".stripMargin,

    "dedup_keep_best" -> {
      val nTok = s"len(${dTokens("text")})::BIGINT"
      val nUniq = s"len(list_distinct(${dTokens("text")}))::BIGINT"
      s"""WITH RECURSIVE $dJaccardCtes,
         |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |kcl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |        FROM reach GROUP BY a),
         |ksc AS (SELECT doc_id, $nUniq / $nTok AS score FROM documents),
         |kjn AS (SELECT s.doc_id, coalesce(c.cluster_id, s.doc_id) AS cluster_id,
         |               s.score
         |        FROM ksc s LEFT JOIN kcl c ON s.doc_id = c.doc_id)
         |SELECT doc_id, cluster_id, score,
         |  (row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) = 1) AS kept
         |FROM kjn ORDER BY doc_id""".stripMargin
    },

    "dedup_minhash_pairs" -> {
      val r = T.MinhashK / T.MinhashBands
      s"""WITH $dJaccardCtes,
         |$dSigCtes,
         |bands AS (SELECT doc_id, bj.r AS band_idx, sig[bj.r*$r+1] * $P + sig[bj.r*$r+$r] AS band_val
         |          FROM sig, range(${T.MinhashBands}) bj(r)),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bands a JOIN bands b
         |         ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT p.i, p.j, p.inter, p.jaccard FROM pairs p
         |WHERE EXISTS (SELECT 1 FROM cand c WHERE c.i = p.i AND c.j = p.j)
         |ORDER BY p.i, p.j""".stripMargin
    },

    "dedup_lsh_eval" -> {
      val r = T.MinhashK / T.MinhashBands
      s"""WITH $dJaccardCtes,
         |$dSigCtes,
         |bands AS (SELECT doc_id, bj.r AS band_idx, sig[bj.r*$r+1] * $P + sig[bj.r*$r+$r] AS band_val
         |          FROM sig, range(${T.MinhashBands}) bj(r)),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bands a JOIN bands b
         |         ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         |ver AS (SELECT p.i, p.j FROM pairs p
         |        WHERE EXISTS (SELECT 1 FROM cand c WHERE c.i = p.i AND c.j = p.j))
         |SELECT (SELECT count(*) FROM pairs)::BIGINT AS n_true_pairs,
         |  (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
         |  (SELECT count(*) FROM ver)::BIGINT AS n_verified,
         |  (SELECT count(*) FROM ver) / nullif((SELECT count(*) FROM pairs), 0) AS pair_recall,
         |  (SELECT count(*) FROM ver) / nullif((SELECT count(*) FROM cand), 0) AS candidate_precision""".stripMargin
    },

    "dedup_minhash_est" -> {
      val r = T.MinhashK / T.MinhashBands
      s"""WITH $dJaccardCtes,
         |$dSigCtes,
         |bands AS (SELECT doc_id, bj.r AS band_idx, sig[bj.r*$r+1] * $P + sig[bj.r*$r+$r] AS band_val
         |          FROM sig, range(${T.MinhashBands}) bj(r)),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bands a JOIN bands b
         |         ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         |vp AS (SELECT p.i, p.j, p.jaccard FROM pairs p
         |       WHERE EXISTS (SELECT 1 FROM cand c WHERE c.i = p.i AND c.j = p.j)),
         |est AS (SELECT vp.i, vp.j, vp.jaccard,
         |    list_sum(list_transform(range(${T.MinhashK}),
         |      mi -> CASE WHEN sa.sig[mi+1] = sb.sig[mi+1] THEN 1 ELSE 0 END))
         |      / ${T.MinhashK}.0 AS est_jaccard
         |  FROM vp JOIN sig sa ON vp.i = sa.doc_id JOIN sig sb ON vp.j = sb.doc_id)
         |SELECT i, j, jaccard, est_jaccard, abs(jaccard - est_jaccard) AS abs_err
         |FROM est ORDER BY i, j""".stripMargin
    },

    "doc_dataset_card" ->
      s"""SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
         |  count(*)::BIGINT AS n_docs,
         |  sum(len(${dTokens("text")}))::BIGINT AS n_tokens,
         |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
         |FROM documents
         |GROUP BY GROUPING SETS ((source), (lang), ())
         |ORDER BY source, lang""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH $dSimhashCte
         |SELECT a.doc_id AS i, b.doc_id AS j,
         |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY i, j""".stripMargin,

    // the Spark side prunes with an exact triangle-inequality bound, so the
    // all-pairs SQL IS the correct oracle — a green row proves exactness
    "dedup_embedding_pairs" ->
      s"""SELECT a.vec_id AS i, b.vec_id AS j, ${dCos("a.embedding", "b.embedding")} AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${dCos("a.embedding", "b.embedding")} >= 0.45
         |ORDER BY i, j""".stripMargin,

    "dedup_embedding_lsh" ->
      s"""WITH lbk AS (SELECT vec_id, ${dLshBands("embedding", 3, 32)} AS bands FROM embeddings),
         |lbnd AS (SELECT vec_id, wr.r AS band_idx, bands[wr.r+1] AS bucket FROM lbk, range(32) wr(r)),
         |lcand AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j FROM lbnd a JOIN lbnd b
         |          ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT c.i, c.j, ${dCos("ea.embedding", "eb.embedding")} AS cos_sim
         |FROM lcand c JOIN embeddings ea ON c.i = ea.vec_id JOIN embeddings eb ON c.j = eb.vec_id
         |WHERE ${dCos("ea.embedding", "eb.embedding")} >= 0.45
         |ORDER BY i, j""".stripMargin,

    "doc_vocab" ->
      s"""SELECT tk AS token, count(*)::BIGINT AS cnt
         |FROM (SELECT unnest(${dTokens("text")}) AS tk FROM documents)
         |GROUP BY tk ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "doc_bpe_merges" -> graft.operators.Bpe.trainOracleSql(nMerges = 6),
    "doc_bpe_encode" -> graft.operators.Bpe.encodeOracleSql(nMerges = 6),
    "doc_bpe_stats" -> graft.operators.Bpe.encodeStatsOracleSql(nMerges = 6),

    "doc_quality_model" ->
      graft.operators.Classifier.trainOracleSql(iters = 2, lr = 0.5),

    // power iteration replayed CTE-for-CTE: projection fold, nano-unit
    // component sums, fold-based norm, unit-scale division
    "emb_pca" -> {
      def norm(src: String, name: String): String =
        s"""$name AS (SELECT sqrt(list_reduce(list_prepend(0.0::DOUBLE,
           |  list_transform(us, pq -> pq * pq)), (pa, pb) -> pa + pb)) AS nrm
           |  FROM (SELECT list(u ORDER BY dim) AS us FROM $src))""".stripMargin
      val iters = (1 to 2).map { i =>
        s"""p${i}l AS (SELECT list(v ORDER BY dim) AS vv FROM p${i - 1}),
           |p${i}d AS (SELECT e, ${dDot("e", "vv")} AS d FROM pe, p${i}l),
           |p${i}x AS (SELECT unnest(range(len(e))) AS dim, unnest(e) AS x, d FROM p${i}d),
           |p${i}uu AS (SELECT dim, sum(floor(x * d * 1e9)::BIGINT)::DOUBLE / 1e9 AS u
           |  FROM p${i}x GROUP BY dim),
           |${norm(s"p${i}uu", s"p${i}n")},
           |p$i AS (SELECT dim, u / nrm AS v FROM p${i}uu, p${i}n)""".stripMargin
      }
      s"""WITH pe AS (SELECT vec_id, list_transform(embedding, px -> px::DOUBLE) AS e FROM embeddings),
         |p0u AS (SELECT unnest(range(len(e))) AS dim, unnest(e) AS u FROM pe WHERE vec_id = 0),
         |${norm("p0u", "p0n")},
         |p0 AS (SELECT dim, u / nrm AS v FROM p0u, p0n),
         |${iters.mkString(",\n")}
         |SELECT dim::BIGINT AS dim, v FROM p2 ORDER BY dim""".stripMargin
    },

    "doc_tfidf" ->
      s"""WITH tft AS (SELECT doc_id, unnest(${dTokens("text")}) AS token FROM documents),
         |tfv AS (SELECT token FROM (SELECT token, count(*) AS c FROM tft GROUP BY token
         |        ORDER BY c DESC, token LIMIT 10)),
         |tfc AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tft
         |        WHERE token IN (SELECT token FROM tfv) GROUP BY 1, 2),
         |tfn AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
         |tfi AS (SELECT token, CAST(CAST(ln(n_docs::DOUBLE / count(*)::DOUBLE) AS FLOAT) AS DOUBLE) AS idf
         |        FROM tfc, tfn GROUP BY token, n_docs)
         |SELECT c.doc_id, c.token, c.tf, c.tf::DOUBLE * i.idf AS w
         |FROM tfc c JOIN tfi i ON c.token = i.token
         |ORDER BY c.doc_id, c.token""".stripMargin,

    // the sketch is Spark-side cost control only; the declared set is the
    // exact integer predicate cnt*k > n, which plain SQL states directly
    "doc_heavy_hitters" ->
      s"""WITH hht AS (SELECT unnest(${dTokens("text")}) AS token FROM documents),
         |hhn AS (SELECT count(*)::BIGINT AS n FROM hht)
         |SELECT token, count(*)::BIGINT AS cnt, n
         |FROM hht, hhn GROUP BY token, n HAVING count(*) * 64 > n
         |ORDER BY cnt DESC, token""".stripMargin,

    "doc_cms" ->
      s"""WITH cth AS (SELECT unnest(${dTokenHashes("text")}) AS th FROM documents),
         |ctc AS (SELECT th, count(*)::BIGINT AS n FROM cth GROUP BY 1),
         |csl AS (SELECT th, n, cr.r AS r,
         |    ((31*cr.r + 1251) * th + 17*cr.r + 7397) % $P % 16 AS slot
         |  FROM ctc, range(4) cr(r)),
         |csk AS (SELECT r, slot, sum(n)::BIGINT AS c FROM csl GROUP BY 1, 2)
         |SELECT th AS tok_hash, n AS n_true, min(c)::BIGINT AS est
         |FROM csl JOIN csk USING (r, slot)
         |GROUP BY th, n ORDER BY tok_hash""".stripMargin,

    // same positional-postings shape: token positions via range(), one
    // aligned-start CTE per phrase term, m-way join intersection
    "doc_phrase_search" -> {
      val startCtes = PhraseTerms.zipWithIndex.map { case (t, i) =>
        s"ps$i AS (SELECT doc_id, pos - $i AS start FROM psp WHERE tk = '$t')"
      }.mkString(",\n")
      val joins = PhraseTerms.indices.tail
        .map(i => s"JOIN ps$i ON ps0.doc_id = ps$i.doc_id AND ps0.start = ps$i.start")
        .mkString(" ")
      s"""WITH pst AS (SELECT doc_id, ${dTokens("text")} AS toks FROM documents),
         |psp AS (SELECT doc_id, unnest(range(len(toks))) AS pos, unnest(toks) AS tk FROM pst),
         |$startCtes
         |SELECT ps0.doc_id, count(*)::BIGINT AS n_hits, min(ps0.start)::BIGINT AS first_pos
         |FROM ps0 $joins
         |GROUP BY ps0.doc_id ORDER BY ps0.doc_id""".stripMargin
    },

    // mirror of LangModel: same bigram extraction, add-one smoothing over
    // exact integers, ln through float32, floor(lp*1e9) nano-nat BIGINT
    // sums (a double->DECIMAL cast would hit each engine's private
    // rounding rule; multiply+floor is IEEE-exact on both)
    "doc_perplexity" ->
      """WITH lpt AS (SELECT doc_id, lower(text) AS t FROM documents WHERE len(text) >= 2),
        |lpb AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), pi -> t[pi:pi+1])) AS bg FROM lpt),
        |lpc AS (SELECT bg, count(*)::BIGINT AS cnt FROM lpb GROUP BY bg),
        |lpx AS (SELECT bg[1:1] AS c1, sum(cnt)::BIGINT AS ctx FROM lpc GROUP BY 1),
        |lpv AS (SELECT count(DISTINCT bg[2:2])::BIGINT AS v FROM lpc),
        |lpm AS (SELECT bg, floor(CAST(ln((cnt + 1)::DOUBLE / (ctx + v)::DOUBLE) AS FLOAT)::DOUBLE * 1e9)::BIGINT AS lp
        |        FROM lpc JOIN lpx ON lpc.bg[1:1] = lpx.c1, lpv),
        |lpd AS (SELECT doc_id, bg, count(*)::BIGINT AS n FROM lpb GROUP BY 1, 2)
        |SELECT d.doc_id, sum(d.n)::BIGINT AS n_bigrams,
        |  -(CAST(sum(d.n * m.lp) AS DOUBLE) / 1e9) / CAST(sum(d.n) AS DOUBLE) AS cross_entropy
        |FROM lpd d JOIN lpm m ON d.bg = m.bg
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // same two-iteration Lloyd CTEs as emb_kmeans; the pair join is
    // restricted to same-cluster ids, cosine is the proven dCos fold
    "dedup_semantic" ->
      s"""WITH $dKmeansCtes,
         |sma AS (SELECT vec_id, cid FROM ka2 WHERE rn = 1),
         |sme AS (SELECT e.vec_id, a.cid, e.embedding
         |        FROM embeddings e JOIN sma a ON e.vec_id = a.vec_id)
         |SELECT a.cid AS cluster, a.vec_id AS i, b.vec_id AS j,
         |  ${dCos("a.embedding", "b.embedding")} AS cos_sim
         |FROM sme a JOIN sme b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |WHERE ${dCos("a.embedding", "b.embedding")} >= 0.45
         |ORDER BY i, j""".stripMargin,

    "emb_knn" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${dCos("embedding", "qe")} AS cos_sim
         |FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // the greedy MMR loop unrolled: one (score, pick, sel) CTE triple per
    // step over a precomputed candidate sim matrix — each step's argmax
    // is ORDER BY score DESC, vec_id LIMIT 1, the driver loop verbatim.
    // 0.7/0.3 are LITERALS on both sides (1-0.7 != 0.3 in binary64).
    "emb_mmr" -> {
      val steps = (2 to 10).map { n =>
        s"""mscore$n AS MATERIALIZED (SELECT c.vec_id, 0.7*c.rel - 0.3*max(s.sim) AS score
           |  FROM mcands c JOIN msim s ON s.a = c.vec_id
           |  WHERE s.b IN (SELECT vec_id FROM msel${n - 1})
           |    AND c.vec_id NOT IN (SELECT vec_id FROM msel${n - 1})
           |  GROUP BY c.vec_id, c.rel),
           |mpick$n AS MATERIALIZED (SELECT ${n}::BIGINT AS rank, vec_id FROM mscore$n
           |  ORDER BY score DESC, vec_id LIMIT 1),
           |msel$n AS MATERIALIZED (SELECT vec_id FROM msel${n - 1}
           |  UNION ALL SELECT vec_id FROM mpick$n)""".stripMargin
      }.mkString(",\n")
      val ranks = (2 to 10)
        .map(n => s"UNION ALL SELECT rank, vec_id FROM mpick$n").mkString(" ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |mcands AS MATERIALIZED (SELECT vec_id, label, ${dCos("embedding", "qe")} AS rel, embedding
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT 32),
         |msim AS MATERIALIZED (SELECT a.vec_id AS a, b.vec_id AS b,
         |    ${dCos("a.embedding", "b.embedding")} AS sim
         |  FROM mcands a, mcands b WHERE a.vec_id <> b.vec_id),
         |msel1 AS MATERIALIZED (SELECT vec_id FROM mcands ORDER BY rel DESC, vec_id LIMIT 1),
         |$steps
         |SELECT r.rank, r.vec_id, c.label, c.rel AS cos_sim
         |FROM (SELECT 1::BIGINT AS rank, vec_id FROM msel1 $ranks) r
         |JOIN mcands c ON r.vec_id = c.vec_id
         |ORDER BY r.rank""".stripMargin
    },

    // one flat rank per query — the two-stage Spark plan must be
    // indistinguishable from the naive global window
    "emb_knn_join" ->
      s"""WITH kjq AS (SELECT vec_id AS query_id, embedding AS qe
         |        FROM embeddings WHERE vec_id < 8),
         |kjs AS (SELECT q.query_id, c.vec_id, c.label,
         |        ${dCos("c.embedding", "q.qe")} AS cos_sim
         |        FROM embeddings c, kjq q WHERE c.vec_id >= 8),
         |kjr AS (SELECT query_id, vec_id, label, cos_sim,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, vec_id) AS rk FROM kjs)
         |SELECT query_id, rk, vec_id, label, cos_sim FROM kjr
         |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,

    "emb_knn_lsh" ->
      s"""WITH bk AS (SELECT vec_id, label, embedding, ${dLshBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qe, bucket AS qb FROM bk WHERE vec_id = 0)
         |SELECT vec_id, label, bucket, ${dCos("embedding", "qe")} AS cos_sim
         |FROM bk, q WHERE vec_id <> 0 AND bucket = qb
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // identical cell family and probe set as emb_knn_lsh_mp, but the Spark
    // side answers it from the partitioned store with a pruned read
    "emb_knn_store" ->
      s"""WITH sbk AS (SELECT vec_id, label, embedding, ${dLshBucket("embedding")} AS bucket FROM embeddings),
         |sq AS (SELECT embedding AS qe, bucket AS qb FROM sbk WHERE vec_id = 0)
         |SELECT vec_id, label, bucket, ${dCos("embedding", "qe")} AS cos_sim
         |FROM sbk, sq WHERE vec_id <> 0 AND bit_count(xor(bucket, qb)) <= 1
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // incremental build + recluster must be invisible to the probe: the
    // oracle is the one-shot store's, verbatim
    "emb_knn_store_incr" ->
      s"""WITH sbk AS (SELECT vec_id, label, embedding, ${dLshBucket("embedding")} AS bucket FROM embeddings),
         |sq AS (SELECT embedding AS qe, bucket AS qb FROM sbk WHERE vec_id = 0)
         |SELECT vec_id, label, bucket, ${dCos("embedding", "qe")} AS cos_sim
         |FROM sbk, sq WHERE vec_id <> 0 AND bit_count(xor(bucket, qb)) <= 1
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "emb_knn_lsh_mp" ->
      s"""WITH mbk AS (SELECT vec_id, label, embedding, ${dLshBucket("embedding")} AS bucket FROM embeddings),
         |mq AS (SELECT embedding AS qe, bucket AS qb FROM mbk WHERE vec_id = 0)
         |SELECT vec_id, label, bucket, ${dCos("embedding", "qe")} AS cos_sim
         |FROM mbk, mq WHERE vec_id <> 0 AND bit_count(xor(bucket, qb)) <= 1
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    "emb_norms" ->
      s"""SELECT vec_id, label, ${dDot("embedding", "embedding")} AS norm2,
         |  len(embedding)::BIGINT AS n_dims
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    // two Lloyd iterations mirrored CTE-for-CTE: same left-to-right d²
    // folds, same (d², cid) tie-break (row_number vs Spark's struct min —
    // equivalent under the distinct (d², cid) total order), same
    // DECIMAL(18,9) component sums → double means
    "emb_kmeans" ->
      s"""WITH $dKmeansCtes
         |SELECT vec_id, cid AS cluster, d2 AS dist2 FROM ka2 WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    // same assignment CTEs; survivors = the quota smallest salted
    // multiplicative hashes per cluster (BIGINT arithmetic, exact on both
    // engines), ties by vec_id — row_number mirrors the Spark window
    "emb_balanced_sample" ->
      s"""WITH $dKmeansCtes,
         |bsa AS (SELECT vec_id, cid FROM ka2 WHERE rn = 1),
         |bsr AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) AS rnk
         |  FROM bsa)
         |SELECT vec_id, cid AS cluster, (rnk <= 32) AS kept
         |FROM bsr ORDER BY vec_id""".stripMargin,

    // same assignment CTEs; per-cluster mean via the DECIMAL(18,9) sum
    // (order-free), threshold compare is one IEEE multiply both engines
    // evaluate identically on bit-identical inputs
    "emb_outliers" ->
      s"""WITH $dKmeansCtes,
         |ol AS (SELECT vec_id, cid AS cluster, d2 AS dist2 FROM ka2 WHERE rn = 1),
         |ost AS (SELECT cluster,
         |    CAST(sum(${dQ9("dist2")}) AS DOUBLE) / 1000000000.0 /
         |      CAST(count(*) AS DOUBLE) AS mean_d2
         |  FROM ol GROUP BY cluster)
         |SELECT vec_id, cluster, dist2, mean_d2,
         |  (dist2 > mean_d2 * 1.05) AS is_outlier
         |FROM ol JOIN ost USING (cluster) ORDER BY vec_id""".stripMargin,

    // IVF probe over the trained cells: nProbe=2 nearest centroids to the
    // query (same d² fold and tie-break as assignment), candidates =
    // vectors assigned to those cells, exact-cosine rerank — the rerank
    // is the proven emb_knn cosine shape over raw float lists
    "emb_knn_ivf" ->
      s"""WITH $dKmeansCtes,
         |iqr AS (SELECT e AS qde FROM kme WHERE vec_id = 0),
         |ipc AS (SELECT cid FROM (
         |        SELECT c.cid, row_number() OVER (ORDER BY ${dD2("q.qde", "c.cent")}, c.cid) AS prn
         |        FROM kc1 c, iqr q) WHERE prn <= 2),
         |iasg AS (SELECT vec_id, cid FROM ka2 WHERE rn = 1),
         |iqe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT b.vec_id, b.label, a.cid AS cell, ${dCos("b.embedding", "qe")} AS cos_sim
         |FROM embeddings b JOIN iasg a ON b.vec_id = a.vec_id
         |  JOIN ipc ON a.cid = ipc.cid, iqe
         |WHERE b.vec_id <> 0
         |ORDER BY cos_sim DESC, b.vec_id LIMIT 10""".stripMargin,

    "emb_knn_quant" -> {
      val scale = "list_reduce(list_prepend(0.0::DOUBLE, list_transform(embedding, qa -> abs(qa::DOUBLE))), (qm, qx) -> greatest(qm, qx)) / 127.0"
      val codes = "CASE WHEN scale = 0 THEN list_transform(embedding, qz -> 0::BIGINT) " +
        "ELSE list_transform(embedding, qv -> floor(qv::DOUBLE / scale + 0.5)::BIGINT) END"
      s"""WITH kq AS (SELECT vec_id, label, embedding, $scale AS scale FROM embeddings),
         |kqq AS (SELECT vec_id, label, embedding, scale, $codes AS codes FROM kq),
         |kquery AS (SELECT codes AS q_codes, scale AS q_scale, embedding AS q_emb FROM kqq WHERE vec_id = 0),
         |kcand AS (SELECT c.vec_id, c.label, c.embedding,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(range(len(c.codes)), ki -> c.codes[ki+1] * q.q_codes[ki+1])), (ka, kx) -> ka + kx)::DOUBLE * c.scale * q.q_scale AS approx
         |  FROM kqq c, kquery q WHERE c.vec_id <> 0
         |  ORDER BY approx DESC, c.vec_id LIMIT 40)
         |SELECT c.vec_id, c.label, ${dCos("c.embedding", "q.q_emb")} AS cos_sim
         |FROM kcand c, kquery q
         |ORDER BY cos_sim DESC, c.vec_id LIMIT 10""".stripMargin
    },

    // IVF+PQ composed: the kmeans CTEs provide cells + probe routing, the
    // PQ CTEs (same arithmetic as emb_knn_pq) provide the ADC scan — here
    // restricted by the probed-cell membership join, exactly the vectors
    // the Spark plan's semi-join admits
    "emb_knn_ivfpq" -> {
      val m = 8
      def foldSub(expr: String): String =
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(pdsub), pi -> $expr)), (pa, px) -> pa + px)"
      s"""WITH $dKmeansCtes,
         |iqr AS (SELECT e AS qde FROM kme WHERE vec_id = 0),
         |ipc AS (SELECT cid FROM (
         |        SELECT c.cid, row_number() OVER (ORDER BY ${dD2("q.qde", "c.cent")}, c.cid) AS prn
         |        FROM kc1 c, iqr q) WHERE prn <= 2),
         |iasg AS (SELECT vec_id, cid FROM ka2 WHERE rn = 1),
         |iprobed AS (SELECT a.vec_id, a.cid FROM iasg a JOIN ipc USING (cid)),
         |pbase AS (SELECT vec_id, label,
         |    list_transform(embedding, pe -> pe::DOUBLE) AS emb,
         |    (len(embedding) // $m)::INT AS pdsub
         |  FROM embeddings),
         |psub AS (SELECT vec_id, pdsub, sr.r AS s,
         |    emb[sr.r*pdsub+1 : sr.r*pdsub+pdsub] AS sub
         |  FROM pbase, range($m) sr(r)),
         |pcb AS (SELECT vec_id AS c, pdsub, s, sub AS csub FROM psub WHERE vec_id < 256),
         |pcb2 AS (SELECT c, s, csub, ${foldSub("csub[pi+1] * csub[pi+1]")} AS n2 FROM pcb),
         |pd AS (SELECT p.vec_id, p.s, cb.c,
         |    cb.n2 - 2.0 * ${foldSub("p.sub[pi+1] * cb.csub[pi+1]")} AS d2
         |  FROM (SELECT ps.* FROM psub ps JOIN iprobed pr ON ps.vec_id = pr.vec_id) p
         |  JOIN (SELECT s, c, csub, n2 FROM pcb2) cb ON p.s = cb.s),
         |pmin AS (SELECT vec_id, s, min(d2) AS md FROM pd GROUP BY 1, 2),
         |pcode AS (SELECT d.vec_id, d.s, min(d.c) AS c
         |  FROM pd d JOIN pmin mn ON d.vec_id = mn.vec_id AND d.s = mn.s AND d.d2 = mn.md
         |  GROUP BY 1, 2),
         |pq AS (SELECT s, sub AS qsub, pdsub FROM psub WHERE vec_id = 0),
         |plut AS (SELECT cb.s, cb.c,
         |    ${foldSub("cb.csub[pi+1] * q.qsub[pi+1]")} AS dotv,
         |    cb.n2 AS n2v
         |  FROM (SELECT s, c, csub, n2 FROM pcb2) cb JOIN pq q ON cb.s = q.s),
         |papprox AS (SELECT pc.vec_id,
         |    CAST(sum(CAST(l.dotv AS DECIMAL(38,18))) AS DOUBLE) AS adot,
         |    CAST(sum(CAST(l.n2v AS DECIMAL(38,18))) AS DOUBLE) AS an2
         |  FROM pcode pc JOIN plut l ON pc.s = l.s AND pc.c = l.c
         |  WHERE pc.vec_id <> 0 GROUP BY 1),
         |pcand AS (SELECT vec_id,
         |    CASE WHEN an2 = 0 THEN -1e300 ELSE adot / sqrt(an2) END AS approx
         |  FROM papprox ORDER BY approx DESC, vec_id LIMIT 40),
         |pqq AS (SELECT emb AS q_emb FROM pbase WHERE vec_id = 0)
         |SELECT b.vec_id, b.label, pr.cid AS cell, ${dCos("b.emb", "q.q_emb")} AS cos_sim
         |FROM pcand cn JOIN pbase b ON cn.vec_id = b.vec_id
         |  JOIN iprobed pr ON b.vec_id = pr.vec_id, pqq q
         |ORDER BY cos_sim DESC, b.vec_id LIMIT 10""".stripMargin
    },

    "emb_knn_pq" -> {
      val m = 8
      // left-to-right folds over one subspace (dsub elements)
      def foldSub(expr: String): String =
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(pdsub), pi -> $expr)), (pa, px) -> pa + px)"
      s"""WITH pbase AS (SELECT vec_id, label,
         |    list_transform(embedding, pe -> pe::DOUBLE) AS emb,
         |    (len(embedding) // $m)::INT AS pdsub
         |  FROM embeddings),
         |psub AS (SELECT vec_id, pdsub, sr.r AS s,
         |    emb[sr.r*pdsub+1 : sr.r*pdsub+pdsub] AS sub
         |  FROM pbase, range($m) sr(r)),
         |pcb AS (SELECT vec_id AS c, pdsub, s, sub AS csub FROM psub WHERE vec_id < 256),
         |pcb2 AS (SELECT c, s, csub, ${foldSub("csub[pi+1] * csub[pi+1]")} AS n2 FROM pcb),
         |pd AS (SELECT p.vec_id, p.s, cb.c,
         |    cb.n2 - 2.0 * ${foldSub("p.sub[pi+1] * cb.csub[pi+1]")} AS d2
         |  FROM psub p
         |  JOIN (SELECT s, c, csub, n2 FROM pcb2) cb ON p.s = cb.s),
         |pmin AS (SELECT vec_id, s, min(d2) AS md FROM pd GROUP BY 1, 2),
         |pcode AS (SELECT d.vec_id, d.s, min(d.c) AS c
         |  FROM pd d JOIN pmin mn ON d.vec_id = mn.vec_id AND d.s = mn.s AND d.d2 = mn.md
         |  GROUP BY 1, 2),
         |pq AS (SELECT s, sub AS qsub, pdsub FROM psub WHERE vec_id = 0),
         |plut AS (SELECT cb.s, cb.c,
         |    ${foldSub("cb.csub[pi+1] * q.qsub[pi+1]")} AS dotv,
         |    cb.n2 AS n2v
         |  FROM (SELECT s, c, csub, n2 FROM pcb2) cb JOIN pq q ON cb.s = q.s),
         |papprox AS (SELECT pc.vec_id,
         |    CAST(sum(CAST(l.dotv AS DECIMAL(38,18))) AS DOUBLE) AS adot,
         |    CAST(sum(CAST(l.n2v AS DECIMAL(38,18))) AS DOUBLE) AS an2
         |  FROM pcode pc JOIN plut l ON pc.s = l.s AND pc.c = l.c
         |  WHERE pc.vec_id <> 0 GROUP BY 1),
         |pcand AS (SELECT vec_id,
         |    CASE WHEN an2 = 0 THEN -1e300 ELSE adot / sqrt(an2) END AS approx
         |  FROM papprox ORDER BY approx DESC, vec_id LIMIT 40),
         |pqq AS (SELECT emb AS q_emb FROM pbase WHERE vec_id = 0)
         |SELECT b.vec_id, b.label, ${dCos("b.emb", "q.q_emb")} AS cos_sim
         |FROM pcand cn JOIN pbase b ON cn.vec_id = b.vec_id, pqq q
         |ORDER BY cos_sim DESC, b.vec_id LIMIT 10""".stripMargin
    },

    // the single-window formulation the distributed prefix sum must equal
    "doc_pack" ->
      """WITH sized AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |cum AS (SELECT doc_id, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_offset
        |  FROM sized)
        |SELECT doc_id, n_tokens, tok_offset, CAST(tok_offset // 2048 AS BIGINT) AS bin
        |FROM cum ORDER BY doc_id""".stripMargin,

    // span-occurrence grain: unnest WITHOUT list_distinct (the Jaccard
    // family's distinct grain would undercount repeated spans); the
    // cross-doc index is distinct-(doc,sh) → count >= 2
    "doc_span_dedup" ->
      s"""WITH sd0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM documents),
         |sd AS (SELECT doc_id, unnest(${dShingleIds("ths", 3)}) AS sh FROM sd0),
         |sdx AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sd) GROUP BY sh HAVING count(*) >= 2),
         |sdn AS (SELECT doc_id, count(*) AS n_spans FROM sd GROUP BY doc_id),
         |sdd AS (SELECT doc_id, count(*) AS n_dup_spans FROM sd JOIN sdx USING (sh) GROUP BY doc_id)
         |SELECT p.doc_id, p.n_spans, coalesce(dd.n_dup_spans, 0)::BIGINT AS n_dup_spans,
         |  coalesce(dd.n_dup_spans, 0) / p.n_spans AS dup_ratio
         |FROM sdn p LEFT JOIN sdd dd USING (doc_id) ORDER BY doc_id""".stripMargin,

    // span removal: zipped unnests give (pos, sh) occurrence rows; dup
    // start positions come back per doc as a sorted list; the rewrite is
    // an index-aware list_filter (DuckDB lambda index is 1-BASED — the
    // i - 1 aligns it with Spark's 0-based filter index and the 0-based
    // span positions)
    "doc_span_scrub" ->
      s"""WITH sc0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM documents),
         |sc1 AS (SELECT doc_id, ${dShingleIds("ths", 3)} AS sids FROM sc0),
         |scp AS (SELECT doc_id, unnest(range(len(sids))) AS pos, unnest(sids) AS sh FROM sc1),
         |scx AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM scp) GROUP BY sh HAVING count(*) >= 2),
         |scs AS (SELECT doc_id, list(pos ORDER BY pos) AS dup_starts
         |        FROM scp JOIN scx USING (sh) GROUP BY doc_id),
         |scd AS (SELECT d.doc_id, d.text, coalesce(s.dup_starts, []::BIGINT[]) AS ds
         |        FROM documents d LEFT JOIN scs s USING (doc_id)),
         |sck AS (SELECT doc_id, text,
         |        list_filter(string_split(text, ' '),
         |          (x, i) -> len(list_filter(ds, sv -> sv <= i - 1 AND i - 1 <= sv + 2)) = 0) AS kept
         |        FROM scd)
         |SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
         |  len(kept)::BIGINT AS n_kept,
         |  coalesce(array_to_string(kept, ' '), '') AS text_scrubbed
         |FROM sck ORDER BY doc_id""".stripMargin,

    // mirrors Ranking.bm25's fixed operation tree term by term; every
    // count is exact BIGINT, the only transcendental is ln() on identical
    // double inputs (one per query term)
    "doc_bm25" -> dBm25Sql,

    // same jaccard-pair edges, two PageRank steps replayed: symmetrize,
    // degree, nano-unit contribution sums, fixed-tree update
    "graph_pagerank" -> {
      def iter(i: Int): String =
        s"""pgc$i AS (SELECT e.dst, sum(floor(p.pr / d.deg::DOUBLE * 1e9)::BIGINT)::BIGINT AS s
           |  FROM pge e JOIN pg${i - 1} p ON e.src = p.id JOIN pgd d ON e.src = d.src
           |  GROUP BY e.dst),
           |pg$i AS (SELECT c.dst AS id,
           |  (1.0::DOUBLE - 0.85::DOUBLE) / n::DOUBLE + 0.85 * (c.s::DOUBLE / 1e9) AS pr
           |  FROM pgc$i c, pgn)""".stripMargin
      s"""WITH $dJaccardCtes,
         |pge AS (SELECT i AS src, j AS dst FROM pairs UNION ALL SELECT j, i FROM pairs),
         |pgd AS (SELECT src, count(*)::BIGINT AS deg FROM pge GROUP BY src),
         |pgn AS (SELECT count(*)::BIGINT AS n FROM pgd),
         |pg0 AS (SELECT src AS id, 1.0 / n::DOUBLE AS pr FROM pgd, pgn),
         |${iter(1)},
         |${iter(2)}
         |SELECT id AS doc_id, pr FROM pg2 ORDER BY doc_id""".stripMargin
    },

    // zipped unnests give (chunk index, chunk text); slices clamp at the
    // document tail on both engines
    "doc_chunks" ->
      s"""WITH cht AS (SELECT doc_id, ${dTokens("text")} AS toks FROM documents),
         |chc AS (SELECT doc_id,
         |  unnest(range(len(range(0, len(toks), 24)))) AS ci,
         |  unnest(list_transform(range(0, len(toks), 24),
         |    cs -> array_to_string(toks[cs+1:cs+32], ' '))) AS ct
         |  FROM cht)
         |SELECT doc_id, ci::BIGINT AS chunk_id, (ci * 24)::BIGINT AS tok_start,
         |  len(string_split(ct, ' '))::BIGINT AS n_chunk_tokens, ct AS chunk_text
         |FROM chc ORDER BY doc_id, chunk_id""".stripMargin,

    // lexical rank from the shared BM25 body, dense rank from the proven
    // cosine shape, each cut to the retrieve depth (rank <= 1000 under a
    // total order == limit-then-rank), fused as sum(1/(60+rank))
    "doc_hybrid_search" ->
      s"""WITH hl0 AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
         |  FROM ($dBm25Sql)),
         |hl AS (SELECT doc_id, r_lex FROM hl0 WHERE r_lex <= 1000),
         |hq AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |hd0 AS (SELECT vec_id AS doc_id, ${dCos("embedding", "qe")} AS cos_sim
         |  FROM embeddings, hq WHERE vec_id <> 0),
         |hd AS (SELECT doc_id, r_dense FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r_dense
         |  FROM hd0) WHERE r_dense <= 1000)
         |SELECT doc_id, r_lex, r_dense,
         |  coalesce(1.0 / (60.0 + r_lex::DOUBLE), 0.0) +
         |  coalesce(1.0 / (60.0 + r_dense::DOUBLE), 0.0) AS rrf
         |FROM hl FULL OUTER JOIN hd USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "doc_contamination" ->
      s"""WITH csp AS (SELECT doc_id, text, ${dPoly("'split:' || doc_id")} % 100 AS h FROM documents),
         |ctr0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM csp WHERE h < 90),
         |ctr AS (SELECT DISTINCT unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM ctr0),
         |cte0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM csp WHERE h >= 95),
         |cte AS (SELECT doc_id, unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM cte0)
         |SELECT t.doc_id, count(*) AS n_shared
         |FROM cte t JOIN ctr ON t.sh = ctr.sh
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "doc_winnowing" ->
      s"""WITH $dWinnowCtes
         |SELECT doc_id, (mpk % 1048576)::BIGINT AS fp_pos,
         |  (mpk // 1048576)::BIGINT AS fp_hash
         |FROM wsel ORDER BY doc_id, fp_pos""".stripMargin,

    "doc_winnowing_matches" ->
      s"""WITH $dWinnowCtes,
         |wfp AS (SELECT DISTINCT doc_id, (mpk // 1048576)::BIGINT AS fp FROM wsel)
         |SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared_fps
         |FROM wfp a JOIN wfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY i, j""".stripMargin,

    "doc_ngram_novelty" ->
      s"""WITH nv0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM documents),
         |nv_sh AS (SELECT doc_id, unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM nv0),
         |nv_df AS (SELECT sh, count(*) AS df FROM nv_sh GROUP BY sh),
         |nv_agg AS (SELECT s.doc_id, count(*)::BIGINT AS n_shingles,
         |    sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique
         |  FROM nv_sh s JOIN nv_df USING (sh) GROUP BY s.doc_id)
         |SELECT doc_id, n_shingles, n_unique,
         |  n_unique::DOUBLE / n_shingles AS novelty
         |FROM nv_agg ORDER BY doc_id""".stripMargin,

    "doc_contamination_containment" ->
      s"""WITH ccp AS (SELECT doc_id, text, ${dPoly("'split:' || doc_id")} % 100 AS h FROM documents),
         |cctr0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM ccp WHERE h < 90),
         |cctr AS (SELECT DISTINCT unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM cctr0),
         |ccte0 AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM ccp WHERE h >= 95),
         |ccte AS (SELECT doc_id, unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM ccte0),
         |ccsz AS (SELECT doc_id, count(*) AS n_test_shingles FROM ccte GROUP BY doc_id),
         |ccsh AS (SELECT t.doc_id, count(*) AS n_shared
         |         FROM ccte t JOIN cctr ON t.sh = cctr.sh GROUP BY t.doc_id)
         |SELECT s.doc_id, s.n_shared, z.n_test_shingles,
         |  s.n_shared::DOUBLE / z.n_test_shingles AS containment
         |FROM ccsh s JOIN ccsz z USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,

    // same split rule as doc_contamination; bands/signatures replayed as
    // in dedup_minhash_pairs, candidates restricted to test × train
    "doc_contamination_fuzzy" -> {
      val r = T.MinhashK / T.MinhashBands
      s"""WITH fz AS (SELECT doc_id, text, ${dPoly("'split:' || doc_id")} % 100 AS h FROM documents),
         |fths AS (SELECT doc_id, h, ${dTokenHashes("text")} AS ths FROM fz WHERE h < 90 OR h >= 95),
         |fsh AS (SELECT doc_id, unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM fths),
         |fsizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
         |fshs AS (SELECT doc_id, h, ${dShingleHashes("ths", 3)} AS shs FROM fths),
         |fsig AS (SELECT doc_id, h, ${dMinhashSig("shs")} AS sig FROM fshs WHERE len(shs) > 0),
         |fbands AS (SELECT doc_id, h, fbj.r AS band_idx,
         |           sig[fbj.r*$r+1] * $P + sig[fbj.r*$r+$r] AS band_val
         |           FROM fsig, range(${T.MinhashBands}) fbj(r)),
         |fcand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM fbands a JOIN fbands b
         |          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |          AND a.h >= 95 AND b.h < 90),
         |finters AS (SELECT c.i, c.j, count(*) AS inter FROM fcand c
         |            JOIN fsh sa ON sa.doc_id = c.i
         |            JOIN fsh sb ON sb.doc_id = c.j AND sb.sh = sa.sh
         |            GROUP BY 1, 2)
         |SELECT t.i AS test_id, t.j AS train_id, t.inter,
         |  t.inter::DOUBLE / (na.n + nb.n - t.inter) AS jaccard
         |FROM finters t JOIN fsizes na ON t.i = na.doc_id JOIN fsizes nb ON t.j = nb.doc_id
         |WHERE t.inter::DOUBLE / (na.n + nb.n - t.inter) >= 0.5
         |ORDER BY test_id, train_id""".stripMargin
    },

    "dedup_incremental_near" -> {
      val r = T.MinhashK / T.MinhashBands
      s"""WITH nin0 AS (SELECT orig_id + 1000000 AS doc_id,
         |    CASE WHEN orig_id % 2 = 1 THEN 'fresh ' || lang || ' page about topic ' || orig_id
         |         ELSE text || ' tail note' END AS text
         |  FROM (SELECT doc_id AS orig_id, lang, text FROM documents
         |        WHERE ${dPoly("'incn:' || doc_id")} % 100 >= 80)),
         |nall AS (SELECT doc_id, text FROM nin0 UNION ALL SELECT doc_id, text FROM documents),
         |nths AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM nall),
         |nsh AS (SELECT doc_id, unnest(list_distinct(${dShingleIds("ths", 3)})) AS sh FROM nths),
         |nsizes AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY doc_id),
         |nshs AS (SELECT doc_id, ${dShingleHashes("ths", 3)} AS shs FROM nths),
         |nsig AS (SELECT doc_id, ${dMinhashSig("shs")} AS sig FROM nshs WHERE len(shs) > 0),
         |nbands AS (SELECT doc_id, nbj.r AS band_idx,
         |           sig[nbj.r*$r+1] * $P + sig[nbj.r*$r+$r] AS band_val
         |           FROM nsig, range(${T.MinhashBands}) nbj(r)),
         |ncand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM nbands a JOIN nbands b
         |          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |          AND a.doc_id >= 1000000 AND b.doc_id < 1000000),
         |ninters AS (SELECT c.i, c.j, count(*) AS inter FROM ncand c
         |            JOIN nsh sa ON sa.doc_id = c.i
         |            JOIN nsh sb ON sb.doc_id = c.j AND sb.sh = sa.sh
         |            GROUP BY 1, 2)
         |SELECT t.i, t.j, t.inter, t.inter::DOUBLE / (na.n + nb.n - t.inter) AS jaccard
         |FROM ninters t JOIN nsizes na ON t.i = na.doc_id JOIN nsizes nb ON t.j = nb.doc_id
         |WHERE t.inter::DOUBLE / (na.n + nb.n - t.inter) >= 0.5
         |ORDER BY t.i, t.j""".stripMargin
    },

    // the increment is built in a subquery with the original id renamed:
    // DuckDB resolves lateral SELECT aliases, so `doc_id + 1000000 AS
    // doc_id` would otherwise shadow the original in the CASE arms
    "dedup_incremental" ->
      s"""WITH inc0 AS (SELECT orig_id + 1000000 AS doc_id,
         |    CASE WHEN orig_id % 10 = 1 THEN 'boilerplate page v2'
         |         WHEN orig_id % 2 = 0 THEN text
         |         ELSE text || ' v2' END AS text
         |  FROM (SELECT doc_id AS orig_id, text FROM documents
         |        WHERE ${dPoly("'inc:' || doc_id")} % 100 >= 80)),
         |iidx AS (SELECT DISTINCT md5(text) AS content_hash FROM documents),
         |incg AS (SELECT md5(text) AS content_hash, min(doc_id) AS doc_id
         |  FROM inc0 GROUP BY 1)
         |SELECT g.doc_id, g.content_hash FROM incg g
         |WHERE NOT EXISTS (SELECT 1 FROM iidx x WHERE x.content_hash = g.content_hash)
         |ORDER BY g.doc_id""".stripMargin,

    "doc_pii_scrub" ->
      s"""WITH ppt AS (SELECT doc_id,
         |  text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' reach user' || doc_id || '@mail.example.com' ELSE '' END ||
         |  ' from 10.' || (doc_id % 200) || '.0.' || (doc_id % 250) ||
         |  CASE WHEN doc_id % 2 = 0 THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS pt
         |  FROM documents WHERE text IS NOT NULL),
         |psc AS (SELECT doc_id, pt,
         |  regexp_replace(regexp_replace(regexp_replace(pt,
         |    '${T.EmailRe}', '<EMAIL>', 'g'),
         |    '${T.Ipv4Re}', '<IP>', 'g'),
         |    '${T.SsnRe}', '<SSN>', 'g') AS st
         |  FROM ppt)
         |SELECT doc_id,
         |  len(regexp_extract_all(pt, '${T.EmailRe}'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(pt, '${T.Ipv4Re}'))::BIGINT AS n_ips,
         |  len(regexp_extract_all(pt, '${T.SsnRe}'))::BIGINT AS n_ssns,
         |  ${dPoly("st")} AS scrub_hash
         |FROM psc ORDER BY doc_id""".stripMargin,

    "doc_shuffle" ->
      """SELECT row_number() OVER (ORDER BY md5('shuf:' || doc_id), doc_id) - 1 AS pos,
        |  doc_id, source
        |FROM documents ORDER BY pos""".stripMargin,

    "emb_ivf_recall" ->
      s"""WITH $dKmeansCtes,
         |vq AS (SELECT vec_id AS query_id, e AS qde FROM kme WHERE vec_id < 8),
         |vpc AS (SELECT query_id, cid FROM (
         |    SELECT q.query_id, c.cid,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dD2("q.qde", "c.cent")}, c.cid) AS prn
         |    FROM kc1 c, vq q) t WHERE prn <= 2),
         |vasg AS (SELECT vec_id, cid FROM ka2 WHERE rn = 1),
         |vqe AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |vs AS (SELECT b.vec_id, q.query_id, a.cid,
         |    ${dCos("b.embedding", "q.qe")} AS cos_sim
         |  FROM embeddings b JOIN vasg a ON b.vec_id = a.vec_id, vqe q
         |  WHERE b.vec_id >= 8),
         |vex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM vs) t WHERE rn <= 10),
         |vls AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM vs WHERE EXISTS (SELECT 1 FROM vpc p
         |    WHERE p.query_id = vs.query_id AND p.cid = vs.cid)) t WHERE rn <= 10),
         |vh AS (SELECT e.query_id, count(*)::BIGINT AS n_hit
         |  FROM vex e JOIN vls l USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
         |  coalesce(n_hit, 0) / 10.0 AS recall
         |FROM vq q LEFT JOIN vh USING (query_id) ORDER BY query_id""".stripMargin,

    // the PQ pipeline of emb_knn_pq generalized over the held-out query
    // set, then the ivf_recall intersection shape: retrieved = exact-cos
    // rerank of the per-query ADC top-40, truth = exact top-10
    "emb_pq_recall" -> {
      val m = 8
      def foldSub(expr: String): String =
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(pdsub), pi -> $expr)), (pa, px) -> pa + px)"
      s"""WITH pr0 AS (SELECT vec_id, list_transform(embedding, pe -> pe::DOUBLE) AS emb,
         |    (len(embedding) // $m)::INT AS pdsub FROM embeddings),
         |prs AS (SELECT vec_id, pdsub, sr.r AS s, emb[sr.r*pdsub+1 : sr.r*pdsub+pdsub] AS sub
         |  FROM pr0, range($m) sr(r)),
         |prcb AS (SELECT vec_id AS c, pdsub, s, sub AS csub FROM prs WHERE vec_id < 256),
         |prcb2 AS (SELECT c, s, csub, ${foldSub("csub[pi+1] * csub[pi+1]")} AS n2 FROM prcb),
         |prd AS (SELECT p.vec_id, p.s, cb.c,
         |    cb.n2 - 2.0 * ${foldSub("p.sub[pi+1] * cb.csub[pi+1]")} AS d2
         |  FROM prs p JOIN (SELECT c, s, csub, n2 FROM prcb2) cb ON p.s = cb.s
         |  WHERE p.vec_id >= 8),
         |prmin AS (SELECT vec_id, s, min(d2) AS md FROM prd GROUP BY 1, 2),
         |prcode AS (SELECT d.vec_id, d.s, min(d.c) AS c FROM prd d
         |  JOIN prmin mn ON d.vec_id = mn.vec_id AND d.s = mn.s AND d.d2 = mn.md
         |  GROUP BY 1, 2),
         |prq AS (SELECT vec_id AS query_id, pdsub, s, sub AS qsub FROM prs WHERE vec_id < 8),
         |prlut AS (SELECT q.query_id, cb.s, cb.c,
         |    ${foldSub("cb.csub[pi+1] * q.qsub[pi+1]")} AS dotv, cb.n2 AS n2v
         |  FROM (SELECT c, s, csub, n2 FROM prcb2) cb
         |  JOIN (SELECT query_id, pdsub, s, qsub FROM prq) q ON cb.s = q.s),
         |prap AS (SELECT l.query_id, pc.vec_id,
         |    CAST(sum(CAST(l.dotv AS DECIMAL(38,18))) AS DOUBLE) AS adot,
         |    CAST(sum(CAST(l.n2v AS DECIMAL(38,18))) AS DOUBLE) AS an2
         |  FROM prcode pc JOIN prlut l ON pc.s = l.s AND pc.c = l.c GROUP BY 1, 2),
         |prcand AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      CASE WHEN an2 = 0 THEN -1e300 ELSE adot / sqrt(an2) END DESC, vec_id) AS crn
         |  FROM prap) t WHERE crn <= 40),
         |prqq AS (SELECT vec_id AS query_id, emb AS qe FROM pr0 WHERE vec_id < 8),
         |prsc AS (SELECT b.vec_id, q.query_id, ${dCos("b.emb", "q.qe")} AS cos_sim
         |  FROM pr0 b, prqq q WHERE b.vec_id >= 8),
         |prex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM prsc) t WHERE rn <= 10),
         |prpq AS (SELECT query_id, vec_id FROM (SELECT s.query_id, s.vec_id,
         |    row_number() OVER (PARTITION BY s.query_id ORDER BY s.cos_sim DESC, s.vec_id) AS rn
         |  FROM prsc s WHERE EXISTS (SELECT 1 FROM prcand c
         |    WHERE c.query_id = s.query_id AND c.vec_id = s.vec_id)) t WHERE rn <= 10),
         |prh AS (SELECT e.query_id, count(*)::BIGINT AS n_hit
         |  FROM prex e JOIN prpq p USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
         |  coalesce(n_hit, 0) / 10.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM prqq) q LEFT JOIN prh USING (query_id)
         |ORDER BY query_id""".stripMargin
    },

    // the PQ-recall pipeline with the ADC scan additionally restricted to
    // each query's probed-cell membership (kmeans CTEs + per-query probe):
    // the composed IVFPQ retrieval the Spark side measures
    "emb_ivfpq_recall" -> {
      val m = 8
      def foldSub(expr: String): String =
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(pdsub), pi -> $expr)), (pa, px) -> pa + px)"
      s"""WITH $dKmeansCtes,
         |vq2 AS (SELECT vec_id AS query_id, e AS qde FROM kme WHERE vec_id < 8),
         |vpc2 AS (SELECT query_id, cid FROM (
         |    SELECT q.query_id, c.cid,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${dD2("q.qde", "c.cent")}, c.cid) AS prn
         |    FROM kc1 c, vq2 q) t WHERE prn <= 2),
         |vasg2 AS (SELECT vec_id, cid FROM ka2 WHERE rn = 1),
         |vmem AS (SELECT p.query_id, a.vec_id
         |  FROM vasg2 a JOIN vpc2 p ON a.cid = p.cid WHERE a.vec_id >= 8),
         |pr0 AS (SELECT vec_id, list_transform(embedding, pe -> pe::DOUBLE) AS emb,
         |    (len(embedding) // $m)::INT AS pdsub FROM embeddings),
         |prs AS (SELECT vec_id, pdsub, sr.r AS s, emb[sr.r*pdsub+1 : sr.r*pdsub+pdsub] AS sub
         |  FROM pr0, range($m) sr(r)),
         |prcb AS (SELECT vec_id AS c, pdsub, s, sub AS csub FROM prs WHERE vec_id < 256),
         |prcb2 AS (SELECT c, s, csub, ${foldSub("csub[pi+1] * csub[pi+1]")} AS n2 FROM prcb),
         |prd AS (SELECT p.vec_id, p.s, cb.c,
         |    cb.n2 - 2.0 * ${foldSub("p.sub[pi+1] * cb.csub[pi+1]")} AS d2
         |  FROM prs p JOIN (SELECT c, s, csub, n2 FROM prcb2) cb ON p.s = cb.s
         |  WHERE p.vec_id >= 8),
         |prmin AS (SELECT vec_id, s, min(d2) AS md FROM prd GROUP BY 1, 2),
         |prcode AS (SELECT d.vec_id, d.s, min(d.c) AS c FROM prd d
         |  JOIN prmin mn ON d.vec_id = mn.vec_id AND d.s = mn.s AND d.d2 = mn.md
         |  GROUP BY 1, 2),
         |prq AS (SELECT vec_id AS query_id, pdsub, s, sub AS qsub FROM prs WHERE vec_id < 8),
         |prlut AS (SELECT q.query_id, cb.s, cb.c,
         |    ${foldSub("cb.csub[pi+1] * q.qsub[pi+1]")} AS dotv, cb.n2 AS n2v
         |  FROM (SELECT c, s, csub, n2 FROM prcb2) cb
         |  JOIN (SELECT query_id, pdsub, s, qsub FROM prq) q ON cb.s = q.s),
         |prap AS (SELECT l.query_id, pc.vec_id,
         |    CAST(sum(CAST(l.dotv AS DECIMAL(38,18))) AS DOUBLE) AS adot,
         |    CAST(sum(CAST(l.n2v AS DECIMAL(38,18))) AS DOUBLE) AS an2
         |  FROM prcode pc JOIN prlut l ON pc.s = l.s AND pc.c = l.c
         |  JOIN vmem mem ON mem.query_id = l.query_id AND mem.vec_id = pc.vec_id
         |  GROUP BY 1, 2),
         |prcand AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      CASE WHEN an2 = 0 THEN -1e300 ELSE adot / sqrt(an2) END DESC, vec_id) AS crn
         |  FROM prap) t WHERE crn <= 40),
         |prqq AS (SELECT vec_id AS query_id, emb AS qe FROM pr0 WHERE vec_id < 8),
         |prsc AS (SELECT b.vec_id, q.query_id, ${dCos("b.emb", "q.qe")} AS cos_sim
         |  FROM pr0 b, prqq q WHERE b.vec_id >= 8),
         |prex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM prsc) t WHERE rn <= 10),
         |prpq AS (SELECT query_id, vec_id FROM (SELECT s.query_id, s.vec_id,
         |    row_number() OVER (PARTITION BY s.query_id ORDER BY s.cos_sim DESC, s.vec_id) AS rn
         |  FROM prsc s WHERE EXISTS (SELECT 1 FROM prcand c
         |    WHERE c.query_id = s.query_id AND c.vec_id = s.vec_id)) t WHERE rn <= 10),
         |prh AS (SELECT e.query_id, count(*)::BIGINT AS n_hit
         |  FROM prex e JOIN prpq p USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
         |  coalesce(n_hit, 0) / 10.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM prqq) q LEFT JOIN prh USING (query_id)
         |ORDER BY query_id""".stripMargin
    },

    "emb_recall" ->
      s"""WITH rb AS (SELECT vec_id, embedding, ${dLshBucket("embedding")} AS bucket FROM embeddings),
         |rq AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qb FROM rb WHERE vec_id < 8),
         |rs AS (SELECT c.vec_id, q.query_id, q.qb, c.bucket,
         |    ${dCos("c.embedding", "qe")} AS cos_sim
         |  FROM rb c, rq q WHERE c.vec_id >= 8),
         |rex AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM rs) t WHERE rn <= 10),
         |rls AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM rs WHERE bit_count(xor(bucket, qb)) <= 1) t WHERE rn <= 10),
         |rh AS (SELECT e.query_id, count(*)::BIGINT AS n_hit
         |  FROM rex e JOIN rls l USING (query_id, vec_id) GROUP BY 1)
         |SELECT q.query_id, coalesce(n_hit, 0)::BIGINT AS n_hit,
         |  coalesce(n_hit, 0) / 10.0 AS recall
         |FROM rq q LEFT JOIN rh USING (query_id) ORDER BY query_id""".stripMargin,

    "doc_mix" -> {
      val values = MixWeights.map { case (s0, w) => s"('$s0', $w)" }.mkString(", ")
      s"""WITH mx_nt AS (SELECT doc_id, source,
         |    len(${dTokens("text")})::BIGINT AS n_tokens FROM documents),
         |mx_tot AS (SELECT source, sum(n_tokens)::BIGINT AS tot FROM mx_nt GROUP BY 1),
         |mx_w(source, wbps) AS (VALUES $values),
         |mx_r AS (SELECT w.source,
         |    least(10000, (($MixBudget * wbps) // 10000) * 10000 // tot)::BIGINT AS rate_bps
         |  FROM mx_w w JOIN mx_tot USING (source)),
         |mx_k AS (SELECT nt.source, rate_bps, n_tokens
         |  FROM mx_nt nt JOIN mx_r USING (source)
         |  WHERE ${dPoly("'mix:' || doc_id")} % 10000 < rate_bps)
         |SELECT source, rate_bps, count(*)::BIGINT AS n_kept,
         |  sum(n_tokens)::BIGINT AS tokens_kept
         |FROM mx_k GROUP BY 1, 2 ORDER BY source""".stripMargin
    },

    // weights recomputed from the same totals: pow through float32 then
    // floor to integer (libm last-ulp divergence dies in the cast), then
    // doc_mix's integer rate/membership arithmetic verbatim
    "doc_mix_temperature" ->
      s"""WITH mt_nt AS (SELECT doc_id, source,
         |    len(${dTokens("text")})::BIGINT AS n_tokens FROM documents),
         |mt_tot AS (SELECT source, sum(n_tokens)::BIGINT AS tot FROM mt_nt GROUP BY 1),
         |mt_w AS (SELECT source, tot,
         |    CAST(floor(CAST(pow(tot::DOUBLE, 0.7) AS REAL)::DOUBLE) AS BIGINT) AS w
         |  FROM mt_tot),
         |mt_ws AS (SELECT sum(w)::BIGINT AS ws FROM mt_w),
         |mt_bps AS (SELECT source, tot, (w * 10000 // ws)::BIGINT AS wbps FROM mt_w, mt_ws),
         |mt_r AS (SELECT source,
         |    least(10000, (($MixBudget * wbps) // 10000) * 10000 // tot)::BIGINT AS rate_bps
         |  FROM mt_bps),
         |mt_k AS (SELECT nt.source, rate_bps, n_tokens
         |  FROM mt_nt nt JOIN mt_r USING (source)
         |  WHERE ${dPoly("'mix:' || doc_id")} % 10000 < rate_bps)
         |SELECT source, rate_bps, count(*)::BIGINT AS n_kept,
         |  sum(n_tokens)::BIGINT AS tokens_kept
         |FROM mt_k GROUP BY 1, 2 ORDER BY source""".stripMargin,

    "doc_sample_rate" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ${dPoly("'sample:' || doc_id")} % 10000 AS sh FROM documents) t
         |WHERE sh < CASE WHEN lang = 'en' THEN 5000 WHEN lang = 'de' THEN 2500 ELSE 1000 END
         |ORDER BY doc_id""".stripMargin,

    "doc_sample_quota" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY ${dPoly("'sample:' || doc_id")} % 10000, doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "doc_repetition" ->
      s"""WITH rth AS (SELECT doc_id, ${dTokenHashes("text")} AS ths FROM documents),
         |rtc AS (SELECT doc_id, rt, count(*) AS c
         |  FROM (SELECT doc_id, unnest(ths) AS rt FROM rth) GROUP BY 1, 2),
         |rtok AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, max(c) AS max_tok
         |  FROM rtc GROUP BY 1),
         |rgc AS (SELECT doc_id, rg, count(*) AS c
         |  FROM (SELECT doc_id, unnest(${dShingleIds("ths", 2)}) AS rg FROM rth) GROUP BY 1, 2),
         |rgr AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, max(c) AS max_gram,
         |    count(*) AS n_distinct FROM rgc GROUP BY 1)
         |SELECT t.doc_id, t.n_tokens,
         |  CAST(t.max_tok AS DOUBLE) / t.n_tokens AS top_token_frac,
         |  coalesce(CAST(r.n_grams - r.n_distinct AS DOUBLE) / r.n_grams, 0.0) AS dup_gram_frac,
         |  coalesce(CAST(r.max_gram AS DOUBLE) / r.n_grams, 0.0) AS top_gram_frac
         |FROM rtok t LEFT JOIN rgr r USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    "doc_split" ->
      s"""SELECT doc_id, CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, ${dPoly("'split:' || doc_id")} % 100 AS h FROM documents) t
         |ORDER BY doc_id""".stripMargin,

    "emb_quantize" -> {
      val scale = "list_reduce(list_prepend(0.0::DOUBLE, list_transform(embedding, qa -> abs(qa::DOUBLE))), (qm, qx) -> greatest(qm, qx)) / 127.0"
      val codes = "CASE WHEN scale = 0 THEN list_transform(embedding, qz -> 0::BIGINT) " +
        "ELSE list_transform(embedding, qv -> floor(qv::DOUBLE / scale + 0.5)::BIGINT) END"
      val recon = "list_transform(codes, qc -> qc::DOUBLE * scale)"
      s"""WITH qs AS (SELECT vec_id, embedding, $scale AS scale FROM embeddings),
         |qq AS (SELECT vec_id, embedding, scale, $codes AS codes FROM qs),
         |qr AS (SELECT vec_id, scale, codes, $recon AS recon, embedding FROM qq)
         |SELECT vec_id, scale, array_to_string(codes, '-') AS codes,
         |  CASE WHEN scale = 0 THEN 1.0
         |       ELSE (${dDot("embedding", "recon")} / (sqrt(${dDot("embedding", "embedding")}) * sqrt(${dDot("recon", "recon")}))) END AS recon_cos
         |FROM qr ORDER BY vec_id""".stripMargin
    },

    "pipeline_report" -> {
      val nTok = s"len(${dTokens("text")})::BIGINT"
      val nUniq = s"len(list_distinct(${dTokens("text")}))::BIGINT"
      s"""WITH RECURSIVE $dJaccardCtes,
         |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clus AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
         |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |qual AS (SELECT doc_id FROM documents
         |  WHERE ($nTok BETWEEN 30 AND 2000) AND ($nUniq / $nTok > 0.2)),
         |keptf AS (SELECT d.doc_id FROM documents d
         |  WHERE d.doc_id IN (SELECT doc_id FROM qual)
         |    AND d.doc_id IN (SELECT doc_id FROM exact_keep)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id <> cluster_id))
         |SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         |  (SELECT count(*) FROM qual)::BIGINT AS n_quality,
         |  (SELECT count(*) FROM exact_keep)::BIGINT AS n_exact_keepers,
         |  (SELECT count(*) FROM pairs)::BIGINT AS n_near_pairs,
         |  (SELECT count(*) FROM clus)::BIGINT AS n_clustered,
         |  (SELECT count(*) FROM keptf)::BIGINT AS n_kept""".stripMargin
    },

    "pipeline_kept" -> {
      val nTok = s"len(${dTokens("text")})::BIGINT"
      val nUniq = s"len(list_distinct(${dTokens("text")}))::BIGINT"
      s"""WITH RECURSIVE $dJaccardCtes,
         |edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM edges
         |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |clus AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
         |exact_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         |SELECT d.doc_id FROM documents d
         |WHERE ($nTok BETWEEN 30 AND 2000) AND ($nUniq / $nTok > 0.2)
         |  AND d.doc_id IN (SELECT doc_id FROM exact_keep)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id <> cluster_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    "multimodal_meta" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, sha256(text) AS sha256,
        |  (octet_length(encode(text)) % 640 + 16)::BIGINT AS width,
        |  ((octet_length(encode(text)) * 7) % 480 + 16)::BIGINT AS height,
        |  (octet_length(encode(text)) % 30 + 1)::BIGINT AS n_frames
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,

    "multimodal_resize" ->
      """WITH mm AS (SELECT doc_id,
        |  (octet_length(encode(text)) % 640 + 16)::BIGINT AS width,
        |  ((octet_length(encode(text)) * 7) % 480 + 16)::BIGINT AS height
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, width, height,
        |  CASE WHEN greatest(width, height) > 224
        |    THEN floor(width * 224 / greatest(width, height))::BIGINT ELSE width END AS out_width,
        |  CASE WHEN greatest(width, height) > 224
        |    THEN floor(height * 224 / greatest(width, height))::BIGINT ELSE height END AS out_height,
        |  greatest(width, height) > 224 AS needs_resize
        |FROM mm ORDER BY doc_id""".stripMargin,

    "multimodal_frames" ->
      """WITH mf AS (SELECT doc_id,
        |  (octet_length(encode(text)) % 30 + 1)::BIGINT AS n_frames
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, n_frames, unnest(range(0, n_frames, ceil(n_frames / 4.0)::BIGINT)) AS frame_idx
        |FROM mf ORDER BY doc_id, frame_idx""".stripMargin,

    "multimodal_features" -> {
      val feats = (0 until Multimodal.DefaultFeatures).map { i =>
        s"(('0x' || substr(sha256(text), ${2 * i + 1}, 2))::BIGINT / 255.0) AS f$i"
      }.mkString(",\n  ")
      s"""SELECT doc_id,
         |  $feats
         |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin
    },

    // the WAV params are pure doc_id arithmetic; Spark's values come from
    // the real JDK parse of the generated payload, so equality IS the
    // decode gate (n_bytes = 44-byte header + nSamples*channels*2 PCM16)
    "multimodal_audio" ->
      """SELECT doc_id,
        |  (44 + (50 + doc_id % 200) * (1 + doc_id % 2) * 2)::BIGINT AS n_bytes,
        |  (8000 * (1 + doc_id % 3))::BIGINT AS sample_rate,
        |  (1 + doc_id % 2)::BIGINT AS channels,
        |  (50 + doc_id % 200)::BIGINT AS n_samples,
        |  ((50 + doc_id % 200) * 1000 // (8000 * (1 + doc_id % 3)))::BIGINT AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same 1024-bucket hashed-bigram model, same float32-collapsed
    // log-ratios, same decimal-quantized weight sums — see dsirWeights
    "doc_dsir" ->
      s"""WITH dst AS (SELECT doc_id, lang, ${dTokenHashes("text")} AS ths FROM documents),
         |dsb AS (SELECT doc_id, lang = 'en' AS is_target,
         |  unnest(${dShingleHashes("ths", 2)}) % 1024 AS b FROM dst),
         |dsd AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM dsb GROUP BY doc_id, b),
         |dsm AS (SELECT b, count(*)::BIGINT AS c_raw,
         |  sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS c_t FROM dsb GROUP BY b),
         |dstot AS (SELECT count(*)::BIGINT AS n_raw,
         |  sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS n_t FROM dsb),
         |dsl AS (SELECT b,
         |    CAST(CAST(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + 1024 AS DOUBLE)) AS FLOAT) AS DOUBLE)
         |  - CAST(CAST(ln(CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + 1024 AS DOUBLE)) AS FLOAT) AS DOUBLE) AS llr
         |  FROM dsm, dstot),
         |dsw AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
         |  sum(${dQ9("CAST(c AS DOUBLE) * llr")}) AS wdec
         |  FROM dsd JOIN dsl USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, CAST(wdec AS DOUBLE) / 1000000000.0 AS weight,
         |  wdec > 0 AS selected
         |FROM dsw ORDER BY doc_id""".stripMargin,

    // same canonical row string, same polynomial hash, exact decimal sum
    // mod 2^62 — both engines fingerprint their own copy independently
    "q53_table_checksum" -> {
      val rowStr = "concat_ws('|', l_orderkey, l_linenumber, l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT))"
      s"""SELECT l_returnflag, count(*)::BIGINT AS n_rows,
         |  CAST(sum(CAST(${dPoly(rowStr)} AS DECIMAL(20,0))) % 4611686018427387904 AS BIGINT) AS checksum
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    // identity after the JSONL round-trip: the oracle is the parquet
    // original — any escaping/typing loss in the JSON path breaks the hash
    "doc_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the oracle rebuilds both KMV sketches value-for-value (k smallest
    // distinct portable hashes) and mirrors the estimator arithmetic —
    // the estimates themselves sit under the hash gate
    "q56_theta_sketch" ->
      s"""WITH tha AS (SELECT DISTINCT (${dPoly("CAST(o_custkey AS VARCHAR)")} * 1103515245 + 12345) % 1000000007 AS h FROM orders),
         |thb AS (SELECT DISTINCT (${dPoly("CAST(c_custkey AS VARCHAR)")} * 1103515245 + 12345) % 1000000007 AS h
         |        FROM customer WHERE c_acctbal < 0),
         |ska AS (SELECT list(h ORDER BY h) AS sk_a FROM (SELECT h FROM tha ORDER BY h LIMIT 64)),
         |skb AS (SELECT list(h ORDER BY h) AS sk_b FROM (SELECT h FROM thb ORDER BY h LIMIT 64)),
         |exi AS (SELECT count(*)::BIGINT AS exact_inter
         |        FROM (SELECT DISTINCT o_custkey FROM orders) oc
         |        JOIN (SELECT c_custkey FROM customer WHERE c_acctbal < 0) cc
         |          ON oc.o_custkey = cc.c_custkey),
         |thv AS (SELECT sk_a, sk_b,
         |   CASE WHEN len(sk_a) < 64 THEN 1000000007 ELSE sk_a[64] END AS tha_m,
         |   CASE WHEN len(sk_b) < 64 THEN 1000000007 ELSE sk_b[64] END AS thb_m,
         |   list_sort(list_distinct(list_concat(sk_a, sk_b)))[1:64] AS mg
         |   FROM ska, skb),
         |th2 AS (SELECT sk_a, sk_b, mg, LEAST(tha_m, thb_m) AS th_min,
         |   len(list_filter(list_intersect(sk_a, sk_b),
         |       tx -> tx < LEAST(tha_m, thb_m)))::BIGINT AS n_common
         |   FROM thv)
         |SELECT
         |  CASE WHEN len(sk_a) < 64 THEN len(sk_a)::DOUBLE
         |       ELSE 63.0 / (sk_a[64]::DOUBLE / 1000000007.0) END AS est_a,
         |  CASE WHEN len(sk_b) < 64 THEN len(sk_b)::DOUBLE
         |       ELSE 63.0 / (sk_b[64]::DOUBLE / 1000000007.0) END AS est_b,
         |  CASE WHEN len(mg) < 64 THEN len(mg)::DOUBLE
         |       ELSE 63.0 / (mg[64]::DOUBLE / 1000000007.0) END AS est_union,
         |  n_common::DOUBLE / (th_min::DOUBLE / 1000000007.0) AS est_inter,
         |  n_common,
         |  exact_inter
         |FROM th2, exi""".stripMargin,

    // the AVI params are pure doc_id arithmetic; Spark's values come from
    // the real RIFF walk + first-frame JPEG decode of the generated
    // payload, so equality IS the container+codec gate (JPEG is lossy in
    // pixels but exact in dimensions)
    "multimodal_video" ->
      """SELECT doc_id,
        |  (32 + (doc_id % 5) * 16)::BIGINT AS width,
        |  (24 + (doc_id % 3) * 16)::BIGINT AS height,
        |  (1 + doc_id % 7)::BIGINT AS n_frames
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0
        |      ORDER BY doc_id LIMIT 500)
        |ORDER BY doc_id""".stripMargin
  )
}
