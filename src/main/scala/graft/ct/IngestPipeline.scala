package graft.ct

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The ingest dataflow: raw CT entries → canonical `cert_domains` rows.
  *
  * Declarative port of the reference worker's per-batch loop
  * (/root/reference/ingestion/ct_ingestor.py:180-221):
  *   base64 decode → parse leaf (admission + X.509) → explode to one row
  *   per domain, dropping unparsed/empty leaves (grain G1, :189-203) →
  *   normalize (lowercase domains are produced by the parser; log_name
  *   spaces → '_', :152) → derive base_domain → dedup on (fingerprint,
  *   domain).
  *
  * The dedup implements the README's *claimed* semantics ("Deduplicates
  * certificates by SHA256 fingerprint", README.md:19) which the reference
  * never actually enforces (SURVEY §1.3) — it also makes at-least-once
  * replay idempotent (ST1).
  *
  * Everything is `DataFrame` ops + two scalar UDFs, so Catalyst keeps
  * column pruning/pushdown and the explode runs codegen'd; at 100 TB the
  * pipeline is embarrassingly parallel (no shuffle until the optional
  * dedup, which hash-partitions on fingerprint).
  */
object IngestPipeline {

  /** `ingestTs` is the parameterized "now" (never the wall clock —
    * determinism rule, SURVEY §7.4; reference uses utcnow() at :191). */
  def certDomains(raw: Dataset[RawEntry], ingestTs: Timestamp): DataFrame = {
    // no filter on `cert`: explode already emits nothing for a null or
    // empty `domains`, and a filter would be pushed below the projection,
    // inlining the parse UDF into it and parsing every leaf again
    raw
      .withColumn("leaf", unbase64(col("leaf_input")))
      .withColumn("cert", CertParser.parse_leaf(col("leaf")))
      .select(
        lit(ingestTs).as("ts"),
        explode(col("cert.domains")).as("domain"),
        col("cert.domains").as("san"),
        col("cert.fingerprint").as("fingerprint"),
        col("cert.issuer").as("issuer"),
        col("cert.subject").as("subject"),
        col("cert.not_before").as("not_before"),
        col("cert.not_after").as("not_after"),
        regexp_replace(col("log_name"), " ", "_").as("log_name"))
      .withColumn("base_domain", PublicSuffix.base_domain(col("domain")))
      .select(CertDomain.columns.map(col): _*)
      .dropDuplicates("fingerprint", "domain")
  }
}
