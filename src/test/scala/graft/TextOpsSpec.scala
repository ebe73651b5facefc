package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.core.TextOps

/** Winnowing fingerprint kernel (`graft_fingerprints`): the SIGMOD'03
  * guarantee and the edge cases the oracle data never hits. */
class TextOpsSpec extends SparkTestBase {

  private def fps(s: String, k: Int, w: Int): Set[Long] = {
    val a = TextOps.fingerprints(UTF8String.fromString(s), k, w)
    (0 until a.numElements()).map(a.getLong).toSet
  }

  test("shorter than k yields no fingerprints; exactly k yields one") {
    assert(fps("", 8, 4).isEmpty)
    assert(fps("1234567", 8, 4).isEmpty)
    assert(fps("12345678", 8, 4).size == 1)
  }

  test("fewer than w hashes still fingerprints (one window over all)") {
    // length 10, k=8 → 3 k-gram hashes < w=4 → min of the 3
    val f = fps("abcdefghij", 8, 4)
    assert(f.size == 1)
  }

  test("winnowing guarantee: shared substring of length >= k + w - 1 shares a fingerprint") {
    // k=8, w=4: any common substring of length >= 11 must contribute at
    // least one common fingerprint (the window fully inside the overlap)
    val common = "the quick brown fox jumps"
    val a = "XXXX " + common + " YYYY"
    val b = "completely different prefix " + common + " and suffix"
    assert(fps(a, 8, 4).intersect(fps(b, 8, 4)).nonEmpty)
  }

  test("fingerprints are a subset of the k-gram hashes and deterministic") {
    val s = "spark grid shuffle join order"
    val cps = s.codePoints().toArray
    val all = (0 to cps.length - 8).map { p =>
      (0 until 8).foldLeft(0L)((h, j) => h * 31L + cps(p + j))
    }.toSet
    val f = fps(s, 8, 4)
    assert(f.subsetOf(all))
    assert(f == fps(s, 8, 4))
  }

  test("identical docs share all fingerprints; disjoint alphabets share none") {
    assert(fps("hello world document", 8, 4) == fps("hello world document", 8, 4))
    assert(fps("aaaaaaaaaaaaaaaa", 8, 4).intersect(fps("bbbbbbbbbbbbbbbb", 8, 4)).isEmpty)
  }

  test("SQL surface registered (graft_fingerprints)") {
    val n = sql("SELECT size(graft_fingerprints('abcdefghijklmnop', 8, 4)) AS n").head().getInt(0)
    assert(n >= 1)
  }

  test("invalid k/w rejected") {
    intercept[IllegalArgumentException] { fps("abc", 0, 4) }
    intercept[IllegalArgumentException] { fps("abc", 3, 0) }
  }

  // ── repetition signals ─────────────────────────────────────────────────

  private def u(s: String) = UTF8String.fromString(s)

  test("topNgramFrac: most frequent n-gram's share of all n-grams") {
    // bigrams of "a b a b a": [a b, b a, a b, b a] → top = 2/4
    assert(TextOps.topNgramFrac(u("a b a b a"), 2) == 0.5)
    // all distinct bigrams → 1/(n-1)
    assert(TextOps.topNgramFrac(u("w x y z"), 2) == 1.0 / 3)
    // fully repeated text → 1.0
    assert(TextOps.topNgramFrac(u("a a a a a"), 2) == 1.0)
    // too short for any n-gram → 0.0
    assert(TextOps.topNgramFrac(u("one"), 2) == 0.0)
    assert(TextOps.topNgramFrac(u(""), 2) == 0.0)
  }

  test("dupNgramFrac: 1 - distinct/total") {
    assert(TextOps.dupNgramFrac(u("a b a b a"), 2) == 0.5) // 2 distinct of 4
    assert(TextOps.dupNgramFrac(u("w x y z"), 2) == 0.0)   // all distinct
    assert(TextOps.dupNgramFrac(u("a a a a a"), 3) == 1.0 - 1.0 / 3)
    assert(TextOps.dupNgramFrac(u("one"), 3) == 0.0)
  }

  // ── PII detection / redaction ─────────────────────────────────────────

  test("pii counters find emails, phones, ipv4") {
    val t = u("Mail bob.smith+tag@sub.example.org or alice@ex.co, " +
      "call +1-202-555-0142, server at 192.168.1.254 and 10.0.0.1.")
    assert(TextOps.piiEmails(t) == 2)
    assert(TextOps.piiPhones(t) == 1)
    assert(TextOps.piiIpv4(t) == 2)
    assert(TextOps.piiEmails(u("no pii here")) == 0)
    // version strings with only three octets don't count
    assert(TextOps.piiIpv4(u("v1.2.3 released")) == 0)
  }

  test("redact replaces all occurrences in email→phone→ip order") {
    val t = u("a@b.io and c@d.io, +1-202-555-0100, 10.0.0.1")
    assert(TextOps.redact(t).toString ==
      "<EMAIL> and <EMAIL>, <PHONE>, <IP>")
    assert(TextOps.redact(u("clean text")).toString == "clean text")
  }

  test("chunks: stride windows, short tail, CJK code points, empty input") {
    def cs(s: String, size: Int, stride: Int): List[String] = {
      val a = TextOps.chunks(u(s), size, stride)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString).toList
    }
    // 10 chars, size 4, stride 3 → starts 1,4,7,10
    assert(cs("abcdefghij", 4, 3) === List("abcd", "defg", "ghij", "j"))
    // overlap: stride < size repeats the boundary chars
    assert(cs("abcdef", 4, 2) === List("abcd", "cdef", "ef"))
    // doc shorter than one window → a single whole-doc chunk
    assert(cs("ab", 100, 50) === List("ab"))
    // CJK: windows count code points, not bytes
    assert(cs("一二三四五", 2, 2) === List("一二", "三四", "五"))
    assert(cs("", 4, 2) === Nil)
  }

  test("BPE pre-tokenizer: contractions, runs, whitespace semantics, SQL parity") {
    def toks(s: String): List[String] = {
      val a = TextOps.bpeTokens(UTF8String.fromString(s))
      (0 until a.numElements()).map(a.getUTF8String(_).toString).toList
    }
    // the documented example: 3 whitespace tokens but 8 BPE pre-tokens
    assert(toks("it's 3.14, ok!") ===
      List("it", "'s", " 3", ".", "14", ",", " ok", "!"))
    // a single inter-word space is consumed by the ` ?` prefixes; a run of
    // two or more is swallowed WHOLE by the greedy whitespace alternative,
    // so the following word loses its space prefix (no-lookahead
    // divergence from original GPT-2, deliberate — see TextOps scaladoc;
    // RE2 and Java agree, which is the property that matters)
    assert(toks("a  b") === List("a", "  ", "b"))
    assert(toks("") === Nil)
    assert(TextOps.bpeCount(UTF8String.fromString("it's 3.14, ok!")) == 8)
    // registered SQL surface matches the static
    val r = sql("""SELECT graft_bpe_count("it's 3.14, ok!") AS n,
                          graft_bpe_tokens('a  b') AS t""").head()
    assert(r.getInt(0) == 8 && r.getSeq[String](1).toList === List("a", "  ", "b"))
  }

  test("nfc + stripInvisible: composition, invisibles, astral planes, idempotence") {
    def nfc(s: String): String = TextOps.nfc(UTF8String.fromString(s)).toString
    def strip(s: String): String = TextOps.stripInvisible(UTF8String.fromString(s)).toString
    val composed = "café"
    assert(nfc("café") == composed, "combining acute must compose")
    assert(nfc(composed) == composed, "already-NFC input is unchanged")
    assert(strip("a​b‌‍c﻿d­e\u202Ef") == "abcdef")
    // astral-plane (surrogate pair) content survives both ops untouched
    val astral = "x😀y" // 😀
    assert(nfc(astral) == astral && strip(astral) == astral)
    // idempotence: normalize twice = normalize once
    val messy = "Å​ + é﻿"
    assert(nfc(strip(messy)) == nfc(strip(nfc(strip(messy)))))
    assert(nfc(strip(messy)) == "Å + é")
    // the dedup story: three spellings of one word hash apart raw,
    // together normalized
    val spellings = Seq("café", "café", "caf​é")
    assert(spellings.distinct.length == 3)
    assert(spellings.map(s => nfc(strip(s))).distinct == Seq(composed))
    // SQL surface
    val r = sql("SELECT graft_nfc(graft_strip_invisible('caf​é')) AS n").head()
    assert(r.getString(0) == composed)
    // NFKC folds compatibility forms NFC leaves alone
    def nfkc(s: String): String = TextOps.nfkc(UTF8String.fromString(s)).toString
    assert(nfkc("１２３") == "123" && nfc("１２３") == "１２３")
    assert(nfkc("ﬁnd") == "find" && nfkc("x²") == "x2" && nfkc("①") == "1")
    assert(nfkc("plain") == "plain")
  }

  test("SQL surface registered (repetition + pii kernels)") {
    val r = sql("""SELECT graft_top_ngram_frac('a b a b a', 2) AS t,
                          graft_dup_ngram_frac('a b a b a', 2) AS d,
                          graft_pii_emails('x@y.io') AS e,
                          graft_redact('x@y.io') AS r""").head()
    assert(r.getDouble(0) == 0.5 && r.getDouble(1) == 0.5)
    assert(r.getInt(2) == 1 && r.getString(3) == "<EMAIL>")
  }
}
