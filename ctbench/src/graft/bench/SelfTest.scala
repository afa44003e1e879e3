package graft.bench

import java.time.LocalDate

import graft.ct.{CertParser, PublicSuffix}

/** Tests of the corpus generator and the response checker, run by
  * `python3 ctbench/run.py --self-test`. They need no Spark session. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expect(cond: Boolean, what: => String): Unit = if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    val spec = CorpusSpec(seed = 7, nCerts = 3000, nLogs = 4, dupRate = 0.03, rejectRate = 0.02)
    val corpus = Corpus.generate(spec)
    def leaf(b64: String) = java.util.Base64.getDecoder.decode(b64)

    test("the same seed gives the same corpus; another seed another") {
      val again = Corpus.generate(spec)
      expect(again.certs.map(_.leafB64).sameElements(corpus.certs.map(_.leafB64)), "leaves differ")
      expect(again.rejectLeaves.sameElements(corpus.rejectLeaves), "rejects differ")
      val other = Corpus.generate(spec.copy(seed = 8))
      expect(other.certs.head.fingerprint != corpus.certs.head.fingerprint, "seed ignored")
    }

    test("every generated cert parses to exactly its intended domains, fingerprint, names and validity") {
      corpus.certs.foreach { c =>
        val info = CertParser.parseLeaf(leaf(c.leafB64))
        expect(info != null, s"cert ${c.id} did not parse")
        expect(info.domains == c.domains, s"cert ${c.id}: parsed ${info.domains}, intended ${c.domains}")
        expect(info.fingerprint == c.fingerprint, s"cert ${c.id}: fingerprint")
        expect(info.issuer == c.issuer && info.subject == c.subject,
          s"cert ${c.id}: issuer/subject ${info.issuer} / ${info.subject}")
        expect(info.not_before.getTime == c.notBeforeMs && info.not_after.getTime == c.notAfterMs,
          s"cert ${c.id}: validity")
      }
    }

    test("names are distinct across certs and carry 1 to 8 domains, ~4 on average") {
      val sizes = corpus.certs.map(_.domains.length)
      expect(sizes.min >= 1 && sizes.max <= 8, s"sizes ${sizes.min}..${sizes.max}")
      val mean = sizes.sum.toDouble / sizes.length
      expect(mean > 3.5 && mean < 4.5, s"mean $mean")
      expect(corpus.allDomains.length > corpus.certs.length, "too few distinct names")
    }

    test("PublicSuffix.baseDomain gives the base domain the generator intended") {
      corpus.certs.foreach(c => c.domains.zip(c.bases).foreach { case (d, b) =>
        expect(PublicSuffix.baseDomain(d) == b, s"$d: PSL says ${PublicSuffix.baseDomain(d)}, generator $b")
      })
    }

    test("the corpus spans ICANN multi-label and private PSL suffixes") {
      val bases = corpus.certs.flatMap(_.bases).toSet
      Seq(".co.uk", ".github.io", ".s3.amazonaws.com", ".com").foreach(sfx =>
        expect(bases.exists(_.endsWith(sfx)), s"no base under $sfx"))
    }

    test("planted rejects parse to null; their count matches the spec") {
      corpus.rejectLeaves.foreach(l => expect(CertParser.parseLeaf(leaf(l)) == null, "a reject parsed"))
      val share = corpus.rejectEntries.toDouble / corpus.entries
      expect(share > 0.01 && share < 0.03, s"reject share $share")
    }

    test("re-logged certs sit at the same index of another log") {
      val byCert = (for (l <- 0 until spec.nLogs; i <- corpus.slots(l).indices if corpus.slots(l)(i) >= 0)
        yield corpus.slots(l)(i) -> (l, i)).groupBy(_._1)
      val dups = byCert.values.filter(_.length > 1)
      expect(dups.nonEmpty, "no duplicates planted")
      dups.foreach { d =>
        val places = d.map(_._2)
        expect(places.length == 2 && places.map(_._2).distinct.length == 1 && places.map(_._1).distinct.length == 2,
          s"duplicate placed at $places")
      }
      expect(corpus.dupEntries == dups.size, "dupEntries")
    }

    // ---- checker: a truth over two batches, responses rendered as the API does
    val half = corpus.slots(0).length / 2
    val t0 = java.time.Instant.parse("2025-03-01T10:00:00Z").toEpochMilli
    val batches = Seq(
      Batch(0, t0, corpus.logNames.map(n => n -> (0L, half.toLong)).toMap),
      Batch(1, t0 + 86400000L, corpus.logNames.map(n => n -> (half.toLong, corpus.slots(0).length.toLong)).toMap))
    val truth = new Truth(corpus, batches)

    def q(s: String) = "\"" + s + "\""
    def render(r: TruthRow, log: String): String = Seq(q(Truth.iso(r.tsMs)), q(r.domain), q(r.base),
      q(r.cert.fingerprint), q(r.cert.issuer.replace("\\", "\\\\").replace("\"", "\\\"")),
      q(r.cert.subject.replace("\\", "\\\\").replace("\"", "\\\"")), r.cert.domains.map(q).mkString("[", ",", "]"),
      q(Truth.iso(r.cert.notBeforeMs)), q(Truth.iso(r.cert.notAfterMs)), q(log), Truth.month(r.tsMs)).mkString("[", ",", "]")
    val name = truth.byDomain.maxBy(_._2.length)._1
    val rows = truth.domain(name)
    val good = rows.map(r => render(r, r.logs.head)).mkString("[", ",", "]")

    test("truth accounts for every entry, reject and dedup") {
      expect(truth.entries == corpus.entries, s"entries ${truth.entries}")
      expect(truth.rejected == corpus.rejectEntries, "rejects")
      expect(truth.rows.length == corpus.domainRows, s"rows ${truth.rows.length} vs ${corpus.domainRows}")
      expect(truth.dedupDropped > 0, "no dedup happened")
    }

    test("checker accepts a correct /domain response") {
      expect(rows.length >= 2, s"test domain has ${rows.length} rows")
      expect(Checker.domain(truth, name, good).isEmpty, Checker.domain(truth, name, good).toString)
      expect(Checker.domain(truth, "nx.example.com", "[]").isEmpty, "absent name")
    }

    test("checker rejects corrupted /domain responses") {
      val r0 = rows.head
      val corruptions = Seq(
        "wrong fingerprint" -> good.replace(r0.cert.fingerprint, "0" * 64),
        "dropped row" -> rows.tail.map(r => render(r, r.logs.head)).mkString("[", ",", "]"),
        "duplicated row" -> (rows :+ rows.head).map(r => render(r, r.logs.head)).mkString("[", ",", "]"),
        "reordered rows" -> rows.reverse.map(r => render(r, r.logs.head)).mkString("[", ",", "]"),
        "wrong log" -> rows.map(r => render(r, "Other_Log")).mkString("[", ",", "]"),
        "wrong ts" -> good.replaceFirst(java.util.regex.Pattern.quote(Truth.iso(r0.tsMs)), "2001-01-01T00:00:00Z"))
      corruptions.foreach { case (what, body) =>
        expect(Checker.domain(truth, name, body).isDefined, s"accepted: $what")
      }
      expect(Checker.domain(truth, "nx.example.com", good).isDefined, "accepted rows for an absent name")
    }

    test("checker accepts correct and rejects corrupted /subdomains, /recent, /tld, /stats, /size") {
      val base = truth.byBase.maxBy(_._2.length)._1
      val subs = truth.subdomains(base).map { case (d, ts) => s"[${q(d)},${q(Truth.iso(ts))}]" }
      expect(Checker.subdomains(truth, base, subs.mkString("[", ",", "]")).isEmpty, "subdomains good")
      expect(Checker.subdomains(truth, base, subs.tail.mkString("[", ",", "]")).isDefined, "subdomains short")
      val now = t0 + 86400000L + 3600000L
      val rec = truth.recent(base, now).map(d => s"[${q(d)}]")
      expect(Checker.recent(truth, base, now, rec.mkString("[", ",", "]")).isEmpty, "recent good")
      expect(Checker.recent(truth, base, now, (rec :+ "[\"zz.example\"]").mkString("[", ",", "]")).isDefined, "recent extra")
      val tl = truth.tld("com").map { case (d, ts) => s"[${q(d)},${q(Truth.iso(ts))}]" }
      expect(Checker.tld(truth, "com", tl.mkString("[", ",", "]")).isEmpty, "tld good")
      expect(Checker.tld(truth, "com", tl.reverse.mkString("[", ",", "]")).isDefined, "tld reversed")
      val day = Truth.day(t0)
      val (total, d, b, first, last) = truth.stats(day)
      def stats(tot: Long) = s"""{"total":$tot,"subdomains":$d,"domains":$b,"first_seen":${q(Truth.iso(first.get))},""" +
        s""""last_seen":${q(Truth.iso(last.get))},"date":${q(day.toString)}}"""
      expect(Checker.stats(truth, day, stats(total)).isEmpty, "stats good")
      expect(Checker.stats(truth, day, stats(total + 1)).isDefined, "stats total off by one")
      val empty = LocalDate.parse("2020-01-01")
      expect(Checker.stats(truth, empty,
        """{"total":0,"subdomains":0,"domains":0,"first_seen":null,"last_seen":null,"date":"2020-01-01"}""").isEmpty,
        "stats empty day")
      expect(Checker.size(123456L, """{"bytes":123456,"human_readable":"120.56KB"}""").isEmpty, "size good")
      expect(Checker.size(123456L, """{"bytes":123457,"human_readable":"120.56KB"}""").isDefined, "size off")
    }

    println(if (failures == 0) "self-test passed" else s"self-test FAILED: $failures test(s)")
    System.exit(if (failures == 0) 0 else 1)
  }
}
