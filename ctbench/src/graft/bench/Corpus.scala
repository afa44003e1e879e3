package graft.bench

import java.security.MessageDigest
import java.util.{Base64, SplittableRandom}
import javax.security.auth.x500.X500Principal

import graft.ct.DemoFixture

/** One generated certificate: the facts the checker needs about it.
  * `domains` is the lowercase, sorted CN ∪ SAN set; `bases` holds the
  * registrable domain of each entry of `domains`, by construction. */
final case class Cert(id: Int, domains: Vector[String], bases: Vector[String],
    fingerprint: String, issuer: String, subject: String,
    notBeforeMs: Long, notAfterMs: Long, leafB64: String)

/** What to generate. Entries are laid out over `nLogs` logs of equal size;
  * `dupRate` of entries re-log a certificate of another log at the same
  * index (so a backlog drain sees both in one micro-batch), `rejectRate` of
  * entries are planted rejects (leaf type 1, or truncated DER). */
final case class CorpusSpec(seed: Long, nCerts: Int, nLogs: Int,
    dupRate: Double, rejectRate: Double)

/** A seeded synthetic CT corpus: certificates with distinct names across
  * ICANN and private PSL suffixes, laid out as RFC 6962 log entries.
  * The same spec gives the same corpus, byte for byte. */
final class Corpus(val spec: CorpusSpec, val certs: Array[Cert],
    /** per log, per index: cert id, or -(k+1) for planted reject k */
    val slots: Array[Array[Int]], val rejectLeaves: Array[String],
    val bases: Vector[String]) {

  val logNames: Vector[String] = (0 until spec.nLogs).map(i => s"Bench Log $i").toVector
  /** log_name as stored: the ingest pipeline replaces spaces with '_'. */
  val storedLogNames: Vector[String] = logNames.map(_.replace(' ', '_'))

  def leafAt(log: Int, index: Int): String = {
    val s = slots(log)(index)
    if (s >= 0) certs(s).leafB64 else rejectLeaves(-s - 1)
  }
  def entries: Long = slots.map(_.length.toLong).sum
  def rejectEntries: Int = rejectLeaves.length
  def dupEntries: Int = slots.map(_.count(_ >= 0)).sum - certs.length
  def domainRows: Long = certs.map(_.domains.length.toLong).sum
  lazy val allDomains: Vector[String] = certs.iterator.flatMap(_.domains).toVector.distinct
}

object Corpus {

  /** (suffix, weight): ICANN single- and multi-label suffixes plus
    * private-section entries, all present in the bundled PSL. */
  val Suffixes: Vector[(String, Int)] = Vector(
    "com" -> 30, "net" -> 8, "org" -> 8, "io" -> 5, "de" -> 5, "fr" -> 3,
    "ru" -> 3, "dev" -> 3, "app" -> 3, "xyz" -> 2,
    "co.uk" -> 4, "org.uk" -> 1, "com.au" -> 2, "co.jp" -> 2, "com.br" -> 2, "co.nz" -> 1,
    "github.io" -> 3, "herokuapp.com" -> 2, "blogspot.com" -> 2, "netlify.app" -> 1,
    "pages.dev" -> 1, "s3.amazonaws.com" -> 1)

  val Labels: Vector[String] = Vector("api", "mail", "cdn", "app", "dev", "staging",
    "shop", "blog", "m", "static", "img", "auth", "vpn", "portal", "test", "admin",
    "docs", "status", "git", "ftp")

  private val Syllables = Vector("ka", "lo", "mi", "ra", "to", "ne", "su", "vi",
    "de", "po", "lu", "ga", "ze", "ri", "xo", "ba")

  /** subjectPublicKeyInfo of the bundled demo certificate, reused by every
    * generated certificate (nothing verifies the signatures). */
  lazy val spki: Array[Byte] = Der.children(Der.children(DemoFixture.certDer)(0))(6)

  val Issuers: Vector[Array[Byte]] = (1 to 4).map(k => Der.name(
    Der.Country -> "RS", Der.Organization -> "Graft Bench", Der.CommonName -> s"Bench CA $k")).toVector
  lazy val issuerStrings: Vector[String] =
    Issuers.map(d => new X500Principal(d).getName(X500Principal.RFC2253))

  private val Jan2024 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val DayMs = 24L * 3600 * 1000

  /** DER of one certificate with the given CN and SAN dNSNames. */
  def certDer(rnd: SplittableRandom, issuer: Int, cn: String, sans: Seq[String],
      notBeforeMs: Long, notAfterMs: Long): Array[Byte] = {
    val serial = new Array[Byte](9); rnd.nextBytes(serial); serial(0) = 1
    val sig = new Array[Byte](257); rnd.nextBytes(sig); sig(0) = 0
    val tbs = Der.seq(
      Der.tlv(0xa0, Der.tlv(0x02, Array[Byte](2))),
      Der.tlv(0x02, serial),
      Der.Sha256WithRsa,
      Issuers(issuer),
      Der.seq(Der.utcTime(notBeforeMs), Der.utcTime(notAfterMs)),
      Der.name(Der.CommonName -> cn),
      spki,
      Der.tlv(0xa3, Der.seq(Der.sanExtension(sans))))
    Der.seq(tbs, Der.Sha256WithRsa, Der.tlv(0x03, sig))
  }

  def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)

  /** Zipf(s) sampler over ranks 0..n-1. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      var acc = 0.0
      val total = w.sum
      w.map { x => acc += x; acc / total }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def weighted[T](rnd: SplittableRandom, xs: Vector[(T, Int)]): T = {
    var u = rnd.nextInt(xs.map(_._2).sum)
    xs.find { case (_, w) => u -= w; u < 0 }.get._1
  }

  def generate(spec: CorpusSpec): Corpus = {
    val rnd = new SplittableRandom(spec.seed)
    val nBases = math.max(50, spec.nCerts / 3)
    val bases = (0 until nBases).map { b =>
      val word = (0 until 2 + rnd.nextInt(2)).map(_ => Syllables(rnd.nextInt(Syllables.length))).mkString
      s"$word${Integer.toString(b, 36)}.${weighted(rnd, Suffixes)}"
    }.toVector
    val hotBase = new Zipf(nBases, 1.1)

    // slot layout: reject / new cert / re-logged cert of another log, same index
    val perLog = math.ceil(spec.nCerts / ((1 - spec.rejectRate - spec.dupRate) * spec.nLogs)).toInt
    val Reject = -1; val Fresh = -2
    val kind = Array.fill(spec.nLogs, perLog)(Fresh)   // else: source log of a dup
    for (i <- 0 until perLog; l <- 0 until spec.nLogs)
      if (rnd.nextDouble() < spec.rejectRate) kind(l)(i) = Reject
    val paired = Array.fill(spec.nLogs, perLog)(false)
    if (spec.nLogs > 1) for (i <- 0 until perLog; l <- 0 until spec.nLogs)
      if (kind(l)(i) == Fresh && !paired(l)(i) && rnd.nextDouble() < spec.dupRate) {
        val t = (l + 1 + rnd.nextInt(spec.nLogs - 1)) % spec.nLogs
        if (kind(t)(i) == Fresh && !paired(t)(i)) {
          kind(t)(i) = l; paired(t)(i) = true; paired(l)(i) = true
        }
      }

    val certs = Array.newBuilder[Cert]
    val rejects = Vector.newBuilder[String]
    var nextId = 0
    var nextReject = 0
    val slots = Array.fill(spec.nLogs, perLog)(0)
    def newCert(): Cert = {
      val primary = bases(if (rnd.nextDouble() < 0.3) hotBase.sample(rnd) else rnd.nextInt(nBases))
      val k = 1 + (0 until 7).count(_ => rnd.nextDouble() < 3.0 / 7)
      val names = scala.collection.mutable.LinkedHashMap.empty[String, String] // name -> base
      if (rnd.nextDouble() < 0.5) names(primary) = primary
      if (rnd.nextDouble() < 0.5) names(s"www.$primary") = primary
      if (k > 1 && rnd.nextDouble() < 0.1) {
        val other = bases(rnd.nextInt(nBases)); names(s"www.$other") = other
      }
      while (names.size < k) {
        val u = rnd.nextDouble()
        val n = if (u < 0.75) s"${Labels(rnd.nextInt(Labels.length))}.$primary"
          else if (u < 0.9) s"s${rnd.nextInt(1000)}.$primary"
          else s"${Labels(rnd.nextInt(Labels.length))}.${Labels(rnd.nextInt(Labels.length))}.$primary"
        names(n) = primary
      }
      val sans = names.keys.toVector.take(k)
      val cn = if (rnd.nextDouble() < 0.1) sans.head.toUpperCase else sans.head
      val issuer = rnd.nextInt(Issuers.length)
      val nb = (Jan2024 + rnd.nextLong(730L * DayMs)) / 1000 * 1000
      val na = nb + (if (rnd.nextBoolean()) 90L else 398L) * DayMs
      val der = certDer(rnd, issuer, cn, sans, nb, na)
      val domains = sans.sorted
      val c = Cert(nextId, domains, domains.map(names),
        sha256Hex(der), issuerStrings(issuer),
        new X500Principal(Der.name(Der.CommonName -> cn)).getName(X500Principal.RFC2253),
        nb, na, b64(DemoFixture.makeLeaf(der)))
      nextId += 1
      c
    }
    for (i <- 0 until perLog; l <- 0 until spec.nLogs) kind(l)(i) match {
      case Reject =>
        val der = certDer(rnd, 0, "reject.invalid", Seq("reject.invalid"), Jan2024, Jan2024 + DayMs)
        rejects += b64(if (rnd.nextBoolean()) DemoFixture.makeLeaf(der, leafType = 1)
          else DemoFixture.makeLeaf(java.util.Arrays.copyOf(der, der.length * 3 / 5)))
        nextReject += 1
        slots(l)(i) = -nextReject
      case Fresh =>
        val c = newCert(); certs += c; slots(l)(i) = c.id
      case _ => ()
    }
    for (i <- 0 until perLog; l <- 0 until spec.nLogs) if (kind(l)(i) >= 0)
      slots(l)(i) = slots(kind(l)(i))(i)
    new Corpus(spec, certs.result(), slots, rejects.result().toArray, bases)
  }
}
