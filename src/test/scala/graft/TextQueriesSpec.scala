package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.DocumentQueries

/** Semantics of the corpus-analytics queries that aren't pure operator
  * wrappers: q56 TF-IDF ranking and q57's cross-source overlap — pinned
  * on hand fixtures where the right answer is checkable by eye (the
  * DuckDB oracle covers the full corpus; these lock the SEMANTICS).
  */
class TextQueriesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Write a documents fixture to a temp dir so the query functions
    * (which read `dir/documents.parquet`) can load it. */
  private def stageDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = tempDir("graft_textq").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q56 tf-idf: a term unique to one doc outranks corpus-wide terms") {
    // "zebra" appears once, only in doc 0; "common" is in every doc.
    val dir = stageDocs(Seq(
      (0L, "common zebra common common", "en", "s0"),
      (1L, "common common common common", "en", "s0"),
      (2L, "common common common common", "en", "s0")))
    val top = DocumentQueries.q56TfidfTopk(spark, dir)
      .filter($"doc_id" === 0L).orderBy($"rn").collect()
    assert(top.head.getAs[String]("token") === "zebra")
    // zebra: tf=1, df=1, len=4 → (1/4)·ln((3+1)/(1+1)) = 0.25·ln 2
    //      = 0.173287 (6 dp)
    assert(top.head.getAs[Double]("tfidf") === 0.173287)
    // common is in every doc: idf = ln((3+1)/(3+1)) = 0 — a corpus-wide
    // term must score 0 and rank strictly below the doc-specific term
    val byToken = top.map(r => r.getAs[String]("token") ->
      r.getAs[Double]("tfidf")).toMap
    assert(byToken("common") === 0.0)
    assert(byToken("zebra") > byToken("common"))
  }

  test("q56 tf-idf: per-doc rank is dense from 1 and capped at k") {
    val top = DocumentQueries.q56TfidfTopk(spark, sf0001)
    val bad = top.groupBy($"doc_id")
      .agg(min($"rn").as("lo"), max($"rn").as("hi"), count(lit(1)).as("n"))
      .filter($"lo" =!= 1 || $"hi" > DocumentQueries.tfidfTopK ||
        $"hi" =!= $"n")
    assert(bad.count() === 0)
  }

  test("PII scrub: urls/emails/ipv4 counted and redacted with URL-first precedence") {
    import graft.functions.TextOps
    val rows = Seq(
      (0L, "contact alice.smith+work@example.co.uk or visit https://example.com/a?user=x@y.zz now"),
      (1L, "server at 10.0.255.3 and 192.168.1.17 responded"),
      (2L, "nothing sensitive here at all"),
      (3L, "version 1.2.3 of lib")) // 3-part version must NOT match ipv4
      .toDF("doc_id", "text")
    val got = rows.select($"doc_id",
        TextOps.piiCounts($"text").as("c"),
        TextOps.redactPii($"text").as("red"))
      .select($"doc_id", $"c.n_urls", $"c.n_emails", $"c.n_ipv4", $"red")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    // doc 0: the @ inside the URL's query string belongs to the URL —
    // one url + one standalone email, and redaction replaces whole spans
    assert(got(0L)._1 == 1 && got(0L)._2 == 1)
    assert(got(0L)._4 ==
      "contact <EMAIL> or visit <URL> now")
    // doc 1: two bare ipv4s
    assert(got(1L)._3 == 2)
    assert(got(1L)._4 == "server at <IP> and <IP> responded")
    // clean docs: counts zero ⟺ redaction is the identity
    assert(got(2L) == ((0, 0, 0, "nothing sensitive here at all")))
    assert(got(3L) == ((0, 0, 0, "version 1.2.3 of lib")))
  }

  test("PII scrub edges: trailing punctuation, octet range, dotted over-match") {
    import graft.functions.TextOps
    val rows = Seq(
      (0L, "see https://x.com. next"),        // sentence period is NOT the URL's
      (1L, "bad 999.999.999.999 stays"),      // out-of-range octets never match
      (2L, "run 1.2.3.4.5 logged"),           // leftmost 4 octets match: pinned
      (3L, "go to https://en.x.org/a_(b) t"), // trailing ')' trimmed (accepted loss)
      (4L, "edge 0.0.0.0 and 255.255.255.255 ok"))
      .toDF("doc_id", "text")
    val got = rows.select($"doc_id",
        TextOps.piiCounts($"text").as("c"),
        TextOps.redactPii($"text").as("red"))
      .select($"doc_id", $"c.n_urls", $"c.n_emails", $"c.n_ipv4", $"red")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(0L) == ((1, 0, 0, "see <URL>. next")))
    assert(got(1L) == ((0, 0, 0, "bad 999.999.999.999 stays")))
    // documented over-match: excluding the 5th part needs lookaround,
    // which the RE2 oracle dialect lacks; redacting more is the
    // conservative direction for a scrub
    assert(got(2L) == ((0, 0, 1, "run <IP>.5 logged")))
    assert(got(3L) == ((1, 0, 0, "go to <URL>) t")))
    assert(got(4L) == ((0, 0, 2, "edge <IP> and <IP> ok")))
  }

  test("cleanText: controls stripped, NFC composed, whitespace collapsed") {
    import graft.functions.TextOps
    // decomposed "Cafe"+U+0301; "A"+NUL+U+0301+"B" where the mark can
    // compose onto A only AFTER the control strip (order contract);
    // tab / NBSP / double-space runs collapse to single spaces
    val dirty = new String(Array(
      ' ', 'C', 'a', 'f', 'e', 0x0301.toChar,
      ' ', 'A', 0x0000.toChar, 0x0301.toChar, 'B',
      '\t', 'C', 0x00A0.toChar, 'D', ' ', ' ', 'E', ' '))
    val cleaned = Seq(Tuple1("Hi" + dirty)).toDF("text")
      .select(TextOps.cleanText($"text").as("c")).head.getString(0)
    val cafe = "Caf" + 0x00E9.toChar         // é composed
    val ab = "" + 0x00C1.toChar + "B"        // Á composed post-strip
    assert(cleaned == s"Hi $cafe $ab C D E", s"got: $cleaned")
    // ASCII text is untouched (the kernel's fast path is the identity)
    val ascii = "plain ascii text"
    assert(Seq(Tuple1(ascii)).toDF("text")
      .select(TextOps.cleanText($"text")).head.getString(0) == ascii)
  }

  test("graft_nfc is SQL-registered and matches java.text.Normalizer on fuzz") {
    import java.text.Normalizer
    val decomposed = "Cafe" + 0x0301.toChar
    val viaSql = spark.sql(
      s"SELECT graft_nfc('$decomposed')").head.getString(0)
    assert(viaSql == "Caf" + 0x00E9.toChar)
    // seeded fuzz over a palette rich in combining marks vs driver truth
    val palette = Array[Char]('a', 'e', 'o', 'n', ' ', 0x0301.toChar,
      0x0300.toChar, 0x0303.toChar, 0x00E9.toChar, 0x4F60.toChar, 'Z')
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(200)(
      String.valueOf(Array.fill(rnd.nextInt(12))(palette(rnd.nextInt(palette.length)))))
    val got = rows.map(Tuple1(_)).toDF("s")
      .select(graft.functions.TextOps.nfcNormalize($"s")).collect().map(_.getString(0))
    val want = rows.map(Normalizer.normalize(_, Normalizer.Form.NFC))
    assert(got.sameElements(want))
  }

  test("q61 sequence packing: hand fixture packs by running token offset") {
    // one shard, budget 256: doc token counts 100, 100, 100, 300, 10 →
    // starts 0,100,200,300,600 → packs 0,0,0,1,2. The 300-token doc
    // begins in pack 1 (spills into 2 — begins-in semantics); the tail
    // doc lands alone in pack 2.
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val dir = stageDocs(Seq(
      (0L, words(100), "en", "s0"),
      (1L, words(100), "en", "s0"),
      (2L, words(100), "en", "s0"),
      (3L, words(300), "en", "s0"),
      (4L, words(10), "en", "s0")))
    val got = DocumentQueries.q61SequencePacking(spark, dir)
      .orderBy($"pack_id").collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("pack_tokens"), r.getAs[Long]("first_doc"),
        r.getAs[Long]("last_doc")))
    assert(got.toSeq == Seq(
      (0L, 3L, 300L, 0L, 2L),
      (1L, 1L, 300L, 3L, 3L),
      (2L, 1L, 10L, 4L, 4L)))
  }

  test("q57 source overlap: a passage copied across sources lights up exactly that pair") {
    // 12-token shared passage (≥ w+k−1 = 6 tokens → winnowing guarantees
    // a shared fingerprint); s2 shares nothing.
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val dir = stageDocs(Seq(
      (0L, s"intro words here $passage", "en", "s0"),
      (1L, s"$passage trailing tail tokens", "en", "s1"),
      (2L, "completely different text with no shared passage at all ok", "en", "s2")))
    val m = DocumentQueries.q57SourceOverlap(spark, dir).collect()
    assert(m.length === 1)
    assert(m.head.getAs[String]("src_a") === "s0")
    assert(m.head.getAs[String]("src_b") === "s1")
    assert(m.head.getAs[Long]("n_shared_fp") >= 1L)
  }
}
