package graft.bench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Minimal DER writer/reader: enough to hand-assemble X.509 certificates
  * with chosen names. Nothing here signs anything — the JDK's
  * `CertificateFactory` parses certificates without verifying signatures,
  * so the signature is random bytes. */
object Der {

  def tlv(tag: Int, body: Array[Byte]): Array[Byte] = {
    val n = body.length
    val out = new ByteArrayOutputStream(n + 5)
    out.write(tag)
    if (n < 0x80) out.write(n)
    else if (n < 0x100) { out.write(0x81); out.write(n) }
    else if (n < 0x10000) { out.write(0x82); out.write(n >> 8); out.write(n & 0xff) }
    else { out.write(0x83); out.write(n >> 16); out.write((n >> 8) & 0xff); out.write(n & 0xff) }
    out.write(body)
    out.toByteArray
  }

  private def concat(parts: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }

  def seq(parts: Array[Byte]*): Array[Byte] = tlv(0x30, concat(parts))
  def set(parts: Array[Byte]*): Array[Byte] = tlv(0x31, concat(parts))

  /** OID from its dotted form. */
  def oid(dotted: String): Array[Byte] = {
    val arcs = dotted.split('.').map(_.toLong)
    val out = new ByteArrayOutputStream()
    out.write((arcs(0) * 40 + arcs(1)).toInt)
    arcs.drop(2).foreach { a =>
      val groups = Iterator.iterate(a)(_ >> 7).takeWhile(_ > 0).map(_ & 0x7f).toSeq.reverse
      val gs = if (groups.isEmpty) Seq(0L) else groups
      gs.zipWithIndex.foreach { case (g, i) =>
        out.write((if (i < gs.length - 1) g | 0x80 else g).toInt)
      }
    }
    tlv(0x06, out.toByteArray)
  }

  val CommonName = oid("2.5.4.3")
  val Organization = oid("2.5.4.10")
  val Country = oid("2.5.4.6")
  val SubjectAltName = oid("2.5.29.17")
  val Sha256WithRsa = seq(oid("1.2.840.113549.1.1.11"), Array(0x05, 0x00).map(_.toByte))

  /** X.501 Name from (attribute OID, value) pairs, most significant first
    * (C, O, CN) — RFC 2253 renders them in reverse. */
  def name(attrs: (Array[Byte], String)*): Array[Byte] =
    seq(attrs.map { case (o, v) =>
      val str = if (o sameElements Country) tlv(0x13, v.getBytes(US_ASCII))
        else tlv(0x0c, v.getBytes(UTF_8))
      set(seq(o, str))
    }: _*)

  private val utcFmt = DateTimeFormatter.ofPattern("yyMMddHHmmss'Z'").withZone(ZoneOffset.UTC)
  def utcTime(epochMs: Long): Array[Byte] =
    tlv(0x17, utcFmt.format(Instant.ofEpochMilli(epochMs)).getBytes(US_ASCII))

  /** subjectAltName extension carrying dNSName entries. */
  def sanExtension(dnsNames: Seq[String]): Array[Byte] =
    seq(SubjectAltName,
      tlv(0x04, seq(dnsNames.map(n => tlv(0x82, n.getBytes(US_ASCII))): _*)))

  /** The complete TLVs directly inside the constructed TLV at the start of `buf`. */
  def children(buf: Array[Byte]): Vector[Array[Byte]] = {
    val (hdr, len) = header(buf, 0)
    val end = hdr + len
    var i = hdr
    val out = Vector.newBuilder[Array[Byte]]
    while (i < end) {
      val (h, l) = header(buf, i)
      out += java.util.Arrays.copyOfRange(buf, i, i + h + l)
      i += h + l
    }
    out.result()
  }

  /** (header length, content length) of the TLV at `at`. */
  private def header(buf: Array[Byte], at: Int): (Int, Int) = {
    val b = buf(at + 1) & 0xff
    if (b < 0x80) (2, b)
    else {
      val k = b & 0x7f
      var len = 0
      (0 until k).foreach(j => len = (len << 8) | (buf(at + 2 + j) & 0xff))
      (2 + k, len)
    }
  }
}
